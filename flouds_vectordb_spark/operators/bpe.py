"""BPE tokenizer training and encoding (Sennrich et al. 2016).

The tokenizer-induction stage of a pretraining pipeline: learn byte-pair
-style merges from the corpus, then encode documents with them. The
classic word-level algorithm (subword-nmt, public):

- split every distinct word into characters + an end-of-word marker;
- repeat n_merges times: count adjacent symbol pairs weighted by word
  frequency, merge the most frequent pair everywhere (left-to-right,
  non-overlapping), record it.

Distributed shape (the shape real trainers use): the working set is the
DISTINCT WORD table with counts — corpus text is touched exactly once
(one tokenize + word count); every merge round is one pair-count
aggregation over (word, syms) rows + a driver-side argmax of |pairs|
scalars, then a stateless fold that applies the merge. At 100 TB the
distinct-word table (pruned by min_count) is millions of rows, not
billions — rounds cost one small shuffle each, independent of corpus
size.

Determinism: ties in pair counts break lexicographically (count DESC,
lhs ASC, rhs ASC) — the same rule in the DuckDB twin, so the full merge
list is oracle-checkable for a fixed n_merges (the twin generates one
CTE stage per round; the merge application is a same-type string fold,
list_reduce-compatible). The left-to-right non-overlap rule is the fold
"if last(acc) == lhs and cur == rhs then replace last with lhs||rhs" —
equivalent to subword-nmt's index walk because a merged symbol
(lhs||rhs, rhs non-empty) can never equal lhs, so merges never chain
within a pass; only lhs == rhs pairs could overlap and the fold takes
them greedily left-to-right exactly like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flouds_vectordb_spark import regime
from flouds_vectordb_spark.functions.text import tokenize, tokenize_sql
from flouds_vectordb_spark.lifecycle import tracked_persist

EOW = "</w>"

# DRIVER regime (r13 optimization): within regime.DRIVER_BYTES the merge
# loop runs on the COLLECTED distinct-word table (subword-nmt's own
# incremental algorithm: full pair count once, then per-merge updates
# touching only the words that contain the merged pair). The distributed
# loop costs ~3 scheduled jobs per merge round (pair agg + argmax collect
# + cache churn) — at gate scale (5k docs, ~20k distinct words) that is
# ~100% scheduling for ~200k driver-side integer ops. Above the bound the
# distributed loop runs unchanged: its working set (distinct words) is
# what scales, and the round cost is corpus-size independent.
_BPE_DRIVER_MAX_WORDS = 2_000_000


def _fold_word(syms: list, lhs: str, rhs: str) -> list:
    """One merge applied left-to-right, non-overlapping — the driver twin
    of _merge_fold (and bpe_encode's inner walk)."""
    merged = lhs + rhs
    out: list = []
    i, n = 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == lhs and syms[i + 1] == rhs:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_train_driver(word_rows, n_merges: int) -> list[tuple]:
    """The classic incremental BPE trainer over a collected (word, cnt)
    table. Exact twin of the distributed loop: integer pair counts, ties
    broken (count DESC, lhs ASC, rhs ASC) — Python tuple comparison on
    str is code-point order, which equals Spark's UTF8-binary string
    order because UTF-8 preserves code-point order."""
    from collections import Counter, defaultdict

    words: list = [(list(w) + [EOW], int(c)) for w, c in word_rows]
    counts: Counter = Counter()
    holders: dict = defaultdict(set)
    for wi, (syms, cnt) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] += cnt
            holders[p].add(wi)
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        if not counts:
            break
        (lhs, rhs), c = min(counts.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, lhs, rhs, int(c)))
        # update only holder words; a stale holder (word no longer
        # containing the pair) decrements and re-increments identically
        for wi in list(holders.get((lhs, rhs), ())):
            syms, cnt = words[wi]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] -= cnt
                if counts[p] == 0:
                    del counts[p]
            new = _fold_word(syms, lhs, rhs)
            words[wi] = (new, cnt)
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                counts[p] += cnt
                holders[p].add(wi)
        holders.pop((lhs, rhs), None)
    return merges


def _chars_plus_eow(word):
    return F.concat(
        F.transform(F.sequence(F.lit(1), F.length(word)),
                    lambda i: word.substr(i, F.lit(1))),
        F.array(F.lit(EOW)))


def _merge_fold(syms, lhs: str, rhs: str):
    """Apply one merge left-to-right, non-overlapping (see module doc)."""
    merged = lhs + rhs
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lhs)) & (x == F.lit(rhs)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged)))
        ).otherwise(F.concat(acc, F.array(x))))


def bpe_train(df: DataFrame, n_merges: int = 32, text_col: str = "text",
              min_count: int = 1) -> list[tuple[int, str, str, int]]:
    """Learn n_merges BPE merges; returns [(rank, lhs, rhs, pair_count)]
    with rank 1-based in merge order. min_count prunes the distinct-word
    working set (words rarer than min_count cannot influence early merges
    materially; at scale this is the standard working-set bound).

    Jobs: 1 word-count aggregation + n_merges x ONE pair-count agg — the
    only action per round is the argmax collect. The word table persists
    between rounds (each round's syms column is one fold over the
    previous round's cached rows — lineage stays one fold deep): round
    r's full pair aggregation touches every partition of `cur`, which
    fills cur's cache as a side effect, so its PARENT's cache can be
    dropped right after the collect — no separate count() materialization
    barrier (that barrier was ~an extra job-floor per round, ~40% of the
    operator's gate-scale wall)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if regime.fits(df, regime.DRIVER_BYTES):
        from flouds_vectordb_spark.lifecycle import no_aqe

        with no_aqe(df.sparkSession):  # one job, not agg-stage + result
            word_rows = (
                df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
                .groupBy("word").count()
                .filter(F.col("count") >= min_count)
                .collect()
            )
        if len(word_rows) <= _BPE_DRIVER_MAX_WORDS:
            return _bpe_train_driver(
                [(r[0], r[1]) for r in word_rows], n_merges)
        # fall through: working set larger than the driver should hold
    words = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word").count().withColumnRenamed("count", "cnt")
        .filter(F.col("cnt") >= min_count)
        .select("word", "cnt", _chars_plus_eow(F.col("word")).alias("syms"))
        .transform(tracked_persist)
    )
    merges: list[tuple[int, str, str, int]] = []
    cur = words
    parent = None  # the round-before-last frame, safe to drop post-collect
    try:
        for rank in range(1, n_merges + 1):
            # guard single-symbol words: sequence(1, 0) DESCENDS in Spark,
            # which would index element 0 (ANSI error)
            pair_arr = F.when(
                F.size("syms") > 1,
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at("syms", i + 1).alias("r")))
            ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            pairs = (
                cur.select("cnt", F.explode(pair_arr).alias("p"))
                .groupBy("p.l", "p.r").agg(F.sum("cnt").alias("c"))
                .orderBy(F.col("c").desc(), F.col("l").asc(),
                         F.col("r").asc())
                .limit(1).collect())
            # cur's cache is now fully materialized -> its parent's cache
            # is no longer an input to anything
            if parent is not None and parent is not words:
                parent.unpersist()
            if not pairs:
                break  # every word fully merged to one symbol
            lhs, rhs, c = pairs[0]["l"], pairs[0]["r"], int(pairs[0]["c"])
            merges.append((rank, lhs, rhs, c))
            parent = cur
            cur = cur.select(
                "word", "cnt",
                _merge_fold(F.col("syms"), lhs, rhs).alias("syms"))
            cur = tracked_persist(cur)
    finally:
        if parent is not None and parent is not words:
            parent.unpersist()
        if cur is not words:
            cur.unpersist()
        words.unpersist()
    return merges


def bpe_train_df(df: DataFrame, n_merges: int = 32, text_col: str = "text",
                 min_count: int = 1) -> DataFrame:
    """bpe_train as a DataFrame (rank, lhs, rhs, pair_count) — the gate
    surface."""
    from flouds_vectordb_spark.functions.local import local_df

    merges = bpe_train(df, n_merges=n_merges, text_col=text_col,
                       min_count=min_count)
    return local_df(df.sparkSession, merges,
                    "rank int, lhs string, rhs string, pair_count bigint")


def bpe_encode(df: DataFrame, merges, id_col: str = "id",
               text_col: str = "text") -> DataFrame:
    """(id, tokens): encode documents with a learned merge list — split
    each word to chars+EOW, apply merges in rank order (lowest rank
    first wherever it matches, the standard greedy loop). Arrow-batched
    mapInPandas: the per-word merge loop is data-dependent control flow
    no Column expression expresses at fixed depth; encoding memoizes per
    distinct word within a batch. Stateless over rows — embarrassingly
    parallel at any scale."""
    ranks = {(l, r): k for k, l, r, _ in
             (m if len(m) == 4 else (m[0], m[1], m[2], 0) for m in merges)}
    id_t = dict(df.dtypes)[id_col]
    out_schema = f"id {id_t}, tokens array<string>"

    def _encode_word(word: str, memo: dict) -> list:
        if word in memo:
            return memo[word]
        syms = list(word) + [EOW]
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                rk = ranks.get((syms[i], syms[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best, best_rank = (syms[i], syms[i + 1]), rk
            if best is None:
                break
            l, r = best
            out, i = [], 0
            while i < len(syms):
                if (i < len(syms) - 1 and syms[i] == l
                        and syms[i + 1] == r):
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        memo[word] = syms
        return syms

    # the SAME split the pipeline tokenize() uses: Java \s is ASCII-only
    # ([ \t\n\x0b\f\r]) where Python str.split() is Unicode-aware — a
    # NBSP-joined word must stay ONE word here exactly as it did in
    # training, or the encoder inserts an EOW the merges never saw
    import re

    _ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def _batches(it):
        import pandas as pd
        for pdf in it:
            memo: dict = {}
            toks = [
                [s for w in _ws.split(str(t).lower()) if w
                 for s in _encode_word(w, memo)]
                if t is not None else []
                for t in pdf[text_col]
            ]
            yield pd.DataFrame({"id": pdf[id_col], "tokens": toks})

    return df.mapInPandas(_batches, schema=out_schema)


def bpe_train_sql(table_sql: str, n_merges: int = 32,
                  text_expr: str = "text", min_count: int = 1) -> str:
    """DuckDB oracle twin of bpe_train_df: one generated CTE stage per
    merge round. The merge application is a list_reduce fold over the
    symbol list with a STRING accumulator (list_reduce requires acc type
    == element type): the space-joined prefix, where 'last symbol == lhs
    and current == rhs' pops the trailing lhs and appends lhs||rhs.
    Symbols never contain spaces (whitespace tokenization), so the join
    is lossless. Each round's argmax is a 1-row CTE cross-joined into
    the next stage."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    tok = tokenize_sql(text_expr)
    chars = ("list_append(list_transform(generate_series(1, length(word)), "
             "cp -> substr(word, cp, 1)), '" + EOW + "')")
    ctes = [f"""_w0 AS (
  SELECT word, count(*) AS cnt, {chars} AS syms FROM (
    SELECT unnest({tok}) AS word FROM {table_sql}
  ) GROUP BY word HAVING count(*) >= {min_count}
)"""]
    for k in range(1, n_merges + 1):
        p, m, wp, wn = f"_p{k}", f"_m{k}", f"_w{k - 1}", f"_w{k}"
        ctes.append(f"""{p} AS (
  SELECT l, r, sum(cnt)::BIGINT AS c FROM (
    SELECT cnt, syms[pi] AS l, syms[pi + 1] AS r
    FROM {wp}, unnest(generate_series(1, len(syms) - 1)) AS _u(pi)
  ) GROUP BY l, r
)""")
        ctes.append(f"""{m} AS (
  SELECT l, r, c FROM {p} ORDER BY c DESC, l ASC, r ASC LIMIT 1
)""")
        # string-fold merge application; lambda vars unique per stage
        # ends_with (not LIKE) — symbols may contain LIKE metachars
        fold = (f"list_reduce(syms, (a{k}, x{k}) -> CASE "
                f"WHEN (a{k} = l OR ends_with(a{k}, ' ' || l)) "
                f"AND x{k} = r THEN "
                f"left(a{k}, length(a{k}) - length(l)) || l || r "
                f"ELSE a{k} || ' ' || x{k} END)")
        ctes.append(f"""{wn} AS (
  SELECT word, cnt, string_split({fold}, ' ') AS syms FROM {wp}, {m}
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {k} AS rank, l AS lhs, r AS rhs, c AS pair_count FROM _m{k}"
        for k in range(1, n_merges + 1))
    return "WITH " + ",\n".join(ctes) + "\n" + sel + "\nORDER BY rank"
