"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The pretraining data-selection stage: given a RAW corpus and a small
TARGET corpus (the distribution you want more of — e.g. curated wiki-grade
quality text), estimate per-document importance weights under hashed
n-gram bag-of-words models and resample raw documents with Gumbel-top-k,
so the kept subset is distributed like the target.

Public-knowledge recipe (the paper's released implementation shape):
- features: word unigrams + bigrams hashed into B buckets;
- bucket log-ratio: log p_target(b) - log p_raw(b), add-k smoothed;
- doc log-weight: sum of its feature counts x bucket log-ratios;
- selection: top n of log_weight + Gumbel noise (the "sampled" variant —
  pure argmax-of-weights over-selects duplicates of one target mode).

Determinism across engines (the repo-wide contract):
- feature hashing is md5-derived hash64 mod B — bit-identical in DuckDB;
- every floating sum folds in sorted bucket order (float addition is
  order-sensitive); log/exp are libm-identical on one box;
- Gumbel noise is HASH-derived, not random: u = (hash64(seed|id)+1) /
  (2^60+1) in (0,1), g = -ln(-ln(u)) — a pure function of (seed, id), so
  the resample is reproducible forever and the oracle can replay it.

Scale shape (100 TB): the two bucket-count aggregations are map-side
combinable to B scalars (B defaults to 8192; the driver never sees text);
the log-ratio table broadcasts; per-doc weights shuffle (id, bucket,
count) scalars only; final selection is a global top-n — TakeOrdered
(a per-partition heap + driver merge of n rows), never a full sort.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flouds_vectordb_spark import regime
from flouds_vectordb_spark.functions.hashing import hash64, hash64_sql
from flouds_vectordb_spark.functions.local import local_df
from flouds_vectordb_spark.functions.text import tokenize, tokenize_sql
from flouds_vectordb_spark.lifecycle import tracked_persist as _persist
from flouds_vectordb_spark.sources.tables import spread_small_input

_DENOM_U = float((1 << 60) + 1)  # maps hash64's [0, 2^60) onto (0, 1)

from flouds_vectordb_spark.functions.hashing import py_hash64 as _py_hash64


def _round6(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def _features(text_col: str):
    """Word unigrams + bigrams of the pipeline tokenization, as one array.

    Bigrams pair two SLICES with zip_with instead of indexing
    element_at(toks, i) inside a transform lambda: a lambda body
    re-evaluates every subexpression PER ELEMENT, so the indexed form ran
    the full tokenize regexp 2x per bigram — measured 9.1 s for 510k
    features at sf0.1 vs ~0.6 s for the same features via slices (the
    repo-wide nested-helper inlining gotcha, in lambda form)."""
    toks = tokenize(F.col(text_col))
    bi_n = F.size(toks) - 1
    bigrams = F.when(
        bi_n > 0,
        F.zip_with(F.slice(toks, 1, bi_n), F.slice(toks, 2, bi_n),
                   lambda a, b: F.concat_ws(" ", a, b))
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def _features_sql(text_expr: str) -> str:
    tok = tokenize_sql(text_expr)
    return (
        f"list_concat({tok}, "
        f"list_transform(generate_series(1, greatest(len({tok}) - 1, 0)), "
        f"i -> {tok}[i] || ' ' || {tok}[i + 1]))"
    )


def _bucket_counts(df: DataFrame, text_col: str, n_buckets: int,
                   seed: int) -> DataFrame:
    feats = _features(text_col)
    return (
        spread_small_input(df).select(F.explode(feats).alias("_f"))
        .select(F.pmod(hash64(F.col("_f"), seed=seed),
                       F.lit(n_buckets)).alias("_b"))
        .groupBy("_b").count().withColumnRenamed("count", "_cnt")
    )


def _ratios_from_counts(rc: DataFrame, tc: DataFrame, n_buckets: int,
                        smoothing: int) -> DataFrame:
    """(_b, _lr) from the two (_b, _cnt) count frames, collected in ONE
    job (a source-tagged union — each side is at most B map-combined
    scalar rows) with the totals and per-bucket log-ratios computed
    driver-side (r9 VERDICT ask #1: the previous shape paid three action
    barriers — two total-sum collects plus a ratio-join collect — which
    alone was ~24% of bench wall at sf0.1). Bit-identical math: integer
    totals, then log((cnt+a)/den) per bucket with C-libm log — the same
    libm the DuckDB oracle's ln calls. The B-row result is a
    LocalRelation (every consumer broadcasts it anyway, and doubles
    survive the repr round-trip bit-exactly), so the caller needs no
    persist on rc/tc: each corpus's feature extraction runs exactly once,
    inside this single collect."""
    a = int(smoothing)
    spark = rc.sparkSession
    both = (
        rc.select(F.lit(0).alias("_s"), "_b", "_cnt")
        .unionByName(tc.select(F.lit(1).alias("_s"), "_b", "_cnt"))
    )
    r_counts: dict[int, int] = {}
    t_counts: dict[int, int] = {}
    for row in both.collect():
        side = r_counts if row["_s"] == 0 else t_counts
        side[int(row["_b"])] = int(row["_cnt"])
    r_tot = sum(r_counts.values())
    t_tot = sum(t_counts.values())
    if r_tot == 0 or t_tot == 0:
        raise ValueError("raw and target corpora must both contain tokens")
    r_den = float(r_tot + a * n_buckets)
    t_den = float(t_tot + a * n_buckets)
    rows = [
        (b,
         math.log((t_counts.get(b, 0) + a) / t_den)
         - math.log((r_counts.get(b, 0) + a) / r_den))
        for b in range(n_buckets)
    ]
    return local_df(spark, rows, "_b bigint, _lr double")


def dsir_log_ratios(raw: DataFrame, target: DataFrame, n_buckets: int = 8192,
                    text_col: str = "text", smoothing: int = 1,
                    seed: int = 0) -> DataFrame:
    """(_b, _lr): per-bucket log p_target(b) - log p_raw(b), add-k smoothed
    over hashed unigram+bigram features. B rows — broadcastable anywhere."""
    if int(smoothing) < 1:
        raise ValueError("smoothing must be >= 1")
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    # no persists: _ratios_from_counts reads each count frame exactly once
    # (one tagged-union collect), so each corpus is scanned exactly once
    rc = _bucket_counts(raw, text_col, n_buckets, seed)
    tc = _bucket_counts(target, text_col, n_buckets, seed)
    return _ratios_from_counts(rc, tc, n_buckets, smoothing)


# DRIVER regime (r13 optimization): with both corpora within
# regime.DRIVER_BYTES the whole resample runs off ONE tagged-union collect
# — per-doc bucket arrays + the target bucket counts + the raw id list —
# with the log-ratio table, sorted-bucket fold, hash-Gumbel key and top-n
# on the driver. The distributed plan pays 12 scheduled jobs at gate scale
# for arithmetic over |docs| + B scalars. Bit-identical: hash64 is md5
# (same hex in hashlib), log is the same C libm ln the oracle calls, and
# the fold order (ascending bucket) matches both engines.
def _dsir_resample_driver(raw: DataFrame, target: DataFrame, n_keep: int,
                          n_buckets: int, id_col: str, text_col: str,
                          a: int, seed: int) -> DataFrame:
    """dsir_resample off ONE tagged-union collect (see above): tag 0 =
    per-raw-doc (bucket, count) arrays, tag 1 = target bucket counts
    packed into one array row, tag 2 = every raw id
    (column-pruned scan — zero-token docs must still compete on Gumbel
    noise). The heavy tokenize/bigram/md5 work stays distributed inside
    the collect; ratios, sorted fold, Gumbel and top-n replicate the
    Column plan op-for-op on the driver."""
    import numpy as np

    from flouds_vectordb_spark.functions import pyhash

    spark = raw.sparkSession
    idt = dict(raw.dtypes)[id_col]
    # Both branches are MAP-ONLY per-doc bucket arrays (zero-token docs
    # -> [], so every raw id arrives in tag 0); the whole fetch is one
    # job (pyhash.fetch_lists spreads the union first). r14: the
    # tokenize/bigram/md5 pipeline runs in the shared pandas UDF (guide
    # §4.2 — native hashlib instead of interpreted HOF lambdas) and the
    # fetch is Arrow IPC; bucket counts are np.bincount over the same
    # integers the groupBy would sum. NULL-text rows arrive as empty
    # arrays — the same lw=0, still-competes-on-Gumbel semantics the
    # distributed plan gives them.
    both = (
        raw.select(F.lit(0).alias("_t"), F.col(id_col).alias("id"),
                   F.col(text_col).alias("_tx"))
        .unionByName(target.select(
            F.lit(1).alias("_t"), F.lit(None).cast(idt).alias("id"),
            F.col(text_col).alias("_tx"))))
    tags, rids, values, offsets, _ = pyhash.fetch_lists(
        both, ["_t", "id"],
        pyhash.feature_bucket_udf(n_buckets, seed)(F.col("_tx")))
    tags = np.asarray(tags)
    sizes = np.diff(offsets)
    elem_raw = np.repeat(tags == 0, sizes)
    r_counts = np.bincount(values[elem_raw], minlength=n_buckets)
    t_counts = np.bincount(values[~elem_raw], minlength=n_buckets)
    r_tot = int(r_counts.sum())
    t_tot = int(t_counts.sum())
    if r_tot == 0 or t_tot == 0:
        raise ValueError("raw and target corpora must both contain tokens")
    r_den = float(r_tot + a * n_buckets)
    t_den = float(t_tot + a * n_buckets)
    # math.log (C libm), NOT np.log: numpy's SIMD log can differ by ULPs
    # from the libm ln the oracle calls — the fold must stay bit-exact
    lr = [math.log((int(t_counts[b]) + a) / t_den)
          - math.log((int(r_counts[b]) + a) / r_den)
          for b in range(n_buckets)]
    per_doc: dict = {}
    all_ids: list = []
    ends = offsets[1:]
    for j in np.flatnonzero(tags == 0).tolist():
        rid = rids[j]
        b, c = np.unique(values[offsets[j]:ends[j]], return_counts=True)
        all_ids.append(rid)
        prev = per_doc.get(rid)
        if prev is None:
            per_doc[rid] = dict(zip(b.tolist(), c.tolist()))
        else:
            # duplicate raw ids merge like the distributed groupBy(id, _b)
            # (r14, ADVICE — the r13 dict assignment overwrote them)
            for bb, cc in zip(b.tolist(), c.tolist()):
                prev[bb] = prev.get(bb, 0) + cc
    scored = []
    for rid in all_ids:
        lw = 0.0
        for b, c in sorted(per_doc[rid].items()):
            lw = lw + (float(c) * lr[b])
        u = (_py_hash64(str(rid), seed=seed + 1) + 1) / _DENOM_U
        g = lw - math.log(-math.log(u))
        scored.append((rid, lw, g))
    scored.sort(key=lambda r: (-r[2], r[0]))
    out = [(rid, _round6(lw), _round6(g))
           for rid, lw, g in scored[:n_keep]]
    return local_df(spark, out,
                    f"id {idt}, log_weight_r double, gumbel_key_r double")


def dsir_resample(raw: DataFrame, target: DataFrame, n_keep: int,
                  n_buckets: int = 8192, id_col: str = "id",
                  text_col: str = "text", smoothing: int = 1,
                  seed: int = 0) -> DataFrame:
    """(id, log_weight_r, gumbel_key_r): the n_keep raw documents selected
    by Gumbel-top-k over DSIR importance weights. log_weight_r is the
    doc's summed feature log-ratio (rounded 6dp for cross-engine hashing);
    gumbel_key_r = log_weight + hash-Gumbel(seed|id) decides selection —
    ties broken by id. Zero-token documents carry weight 0 and compete on
    noise alone (the paper drops them upstream; gates here keep the rule
    total so every input row is accounted for)."""
    if n_keep < 1:
        raise ValueError("n_keep must be >= 1")
    if int(smoothing) < 1:
        raise ValueError("smoothing must be >= 1")
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if (regime.fits(raw, regime.DRIVER_BYTES)
            and regime.fits(target, regime.DRIVER_BYTES)):
        return _dsir_resample_driver(raw, target, n_keep, n_buckets,
                                     id_col, text_col, int(smoothing), seed)
    # spread BEFORE the feature projection: the md5-heavy
    # tokenize+bigram+hash explode otherwise runs on however few splits
    # the input arrived in (one task for the single-file sf fixtures —
    # measured 16 s of the operator's 15.4 s wall on one core at sf0.1)
    d = spread_small_input(raw).select(F.col(id_col).alias("id"),
                                       _features(text_col).alias("_fs"))
    # per-doc bucket counts persist ONCE and the raw bucket counts derive
    # from them — the raw corpus's feature extraction (the expensive
    # tokenize+bigram+hash projection) runs a single time
    per_doc = (
        d.select("id", F.explode("_fs").alias("_f"))
        .select("id", F.pmod(hash64(F.col("_f"), seed=seed),
                             F.lit(n_buckets)).alias("_b"))
        .groupBy("id", "_b").count()
    )
    per_doc = _persist(per_doc)
    # one job total before the final action: the tagged-union collect
    # inside _ratios_from_counts materializes the per_doc cache (rc reads
    # it) and scans the target corpus, and the driver does the rest. rc/tc
    # need no persist — each is read exactly once. per_doc must stay
    # cached: the returned frame still reads it lazily (persist_scope
    # releases it).
    rc = per_doc.groupBy("_b").agg(F.sum("count").alias("_cnt"))
    tc = _bucket_counts(target, text_col, n_buckets, seed)
    lr = F.broadcast(_ratios_from_counts(rc, tc, n_buckets, smoothing))
    per_bucket = (
        per_doc.join(lr, "_b")
        .select("id", "_b",
                (F.col("count").cast("double") * F.col("_lr")).alias("_c"))
    )
    folded = per_bucket.groupBy("id").agg(
        F.aggregate(F.array_sort(F.collect_list(F.struct("_b", "_c"))),
                    F.lit(0.0), lambda acc, e: acc + e["_c"]).alias("_lw"))
    u = (hash64(F.col("id").cast("string"), seed=seed + 1) + 1) / F.lit(_DENOM_U)
    scored = (
        d.select("id").join(folded, "id", "left")
        .select("id", F.coalesce(F.col("_lw"), F.lit(0.0)).alias("_lw"))
        .withColumn("_g", F.col("_lw") - F.log(-F.log(u)))
    )
    return (
        scored.orderBy(F.col("_g").desc(), F.col("id").asc()).limit(n_keep)
        .select("id", F.round("_lw", 6).alias("log_weight_r"),
                F.round("_g", 6).alias("gumbel_key_r"))
    )


def dsir_resample_sql(raw_sql: str, target_sql: str, n_keep: int,
                      n_buckets: int = 8192, id_expr: str = "id",
                      text_expr: str = "text", smoothing: int = 1,
                      seed: int = 0) -> str:
    """DuckDB oracle twin: identical hashing, smoothing, sorted-bucket
    fold, hash-Gumbel key, and (key DESC, id ASC) top-n."""
    a = int(smoothing)
    if a < 1:
        raise ValueError("smoothing must be >= 1")
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if n_keep < 1:
        raise ValueError("n_keep must be >= 1")
    fh = hash64_sql("_f", seed=seed)
    # _docs aliases {id_expr} to `id`, so the Gumbel hash keys on d.id —
    # the same value the Spark side hashes
    gh = hash64_sql("(d.id)::VARCHAR", seed=seed + 1)
    raw_feats = _features_sql(text_expr)
    return f"""
WITH _raw_b AS (
  SELECT {fh} % {n_buckets} AS _b, count(*) AS _cnt FROM (
    SELECT unnest({raw_feats}) AS _f FROM {raw_sql}
  ) GROUP BY 1
),
_tgt_b AS (
  SELECT {fh} % {n_buckets} AS _b, count(*) AS _cnt FROM (
    SELECT unnest({_features_sql(text_expr)}) AS _f FROM {target_sql}
  ) GROUP BY 1
),
_tots AS (
  SELECT (SELECT coalesce(sum(_cnt), 0) FROM _raw_b)::DOUBLE
           + {a}.0 * {n_buckets} AS _rden,
         (SELECT coalesce(sum(_cnt), 0) FROM _tgt_b)::DOUBLE
           + {a}.0 * {n_buckets} AS _tden
),
_lr AS (
  SELECT b.range AS _b,
         ln((coalesce(t._cnt, 0)::DOUBLE + {a}) / _tden)
           - ln((coalesce(r._cnt, 0)::DOUBLE + {a}) / _rden) AS _lr
  FROM range({n_buckets}) b
  LEFT JOIN _raw_b r ON b.range = r._b
  LEFT JOIN _tgt_b t ON b.range = t._b, _tots
),
_docs AS (
  SELECT {id_expr} AS id, {raw_feats} AS _fs FROM {raw_sql}
),
_per_bucket AS (
  SELECT id, _b, count(*)::DOUBLE * any_value(_lr) AS _c FROM (
    SELECT id, {fh} % {n_buckets} AS _b FROM (
      SELECT id, unnest(_fs) AS _f FROM _docs
    )
  ) JOIN _lr USING (_b)
  GROUP BY id, _b
),
_folded AS (
  SELECT id, list_reduce(list(_c ORDER BY _b), (x, y) -> x + y) AS _lw
  FROM _per_bucket GROUP BY id
),
_scored AS (
  SELECT d.id, coalesce(_lw, 0.0) AS _lw,
         coalesce(_lw, 0.0)
           - ln(-ln(({gh} + 1) / {_DENOM_U!r})) AS _g
  FROM _docs d LEFT JOIN _folded USING (id)
)
SELECT id, round(_lw, 6) AS log_weight_r, round(_g, 6) AS gumbel_key_r
FROM _scored
ORDER BY _g DESC, id ASC
LIMIT {n_keep}
"""
