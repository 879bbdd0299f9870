"""Deduplication operators for LLM training-data pipelines.

Beyond the reference's surface (its only dedup is upsert's key-level
latest-wins): content-level exact and near-duplicate detection, designed
for 100 TB corpora. Three tiers:

- EXACT: normalize -> 60-bit md5 hash -> groupBy hash. One shuffle on the
  hash; the keeper is min(id) per group (deterministic).
- MINHASH-LSH: word-shingles -> S minhash signatures -> B bands; candidate
  pairs come from a self-join on (band, band_hash) buckets — NEVER all
  pairs: at 100 TB the bucket join shuffles only colliding rows. Candidates
  are then verified with exact shingle-set Jaccard.
- SIMHASH: 64-bit fingerprint from per-token hashes (majority vote per
  bit); near-dup pairs via 16-bit band buckets (Hamming <= 3 guarantees a
  matching band by pigeonhole), verified with bit_count(xor) <= threshold.

All hashes are md5-derived (functions/hashing.py) so DuckDB computes
bit-identical values — every operator here is oracle-checkable. All logic
is pure Column expressions (JVM codegen, no Python in the hot path).

Persist lifecycle: the near-dup operators persist() intermediates
(signature/shingle tables) because their plans read them 2-3 times and
Catalyst's project collapse would otherwise recompute the expensive
expressions per consumer. The returned DataFrames are lazy, so the
operators cannot unpersist for you. Callers have two clean options:
wrap the call + materialization in `lifecycle.persist_scope()` (releases
exactly the intermediates these operators persisted, nothing else), or
`spark.catalog.clearCache()` after materializing (the blunt session-wide
version; bench.py does this between queries). At scale, persist-to-parquet
the signature tables as the real index artifact instead.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from flouds_vectordb_spark import regime
from flouds_vectordb_spark.functions.hashing import (
    hash64,
    hash64_sql,
    shingles,
    shingles_sql,
)
from flouds_vectordb_spark.functions.text import tokenize, tokenize_sql
from flouds_vectordb_spark.lifecycle import tracked_persist as _persist
from flouds_vectordb_spark.sources.tables import spread_small_input as _spread


# decontaminate_neardup broadcasts its (id_a, id_b) candidate list back
# into the train probe; 2M scalar pairs ≈ 32 MB — comfortably under the
# default 10 MB autoBroadcast threshold is NOT the bar here (we broadcast
# explicitly), the bar is driver/executor memory. Past this, keyed joins.
_NEARDUP_CAND_BROADCAST_ROWS = 2_000_000

# DRIVER regime (r13 optimization): within regime.DRIVER_BYTES the whole
# candidate-generation + exact-verify tail runs on COLLECTED scalars. The
# distributed plans schedule 9-31 Spark jobs per call at gate scale (every
# exchange, dropDuplicates and persist materialization is its own job
# under AQE). One job fetches (id, hash arrays) — the same hashes the
# distributed plan computes (pyhash twins) — and bucketing/Jaccard/
# union-find are microseconds over bounded scalars. Above the bound (or
# when the bucket pre-flight predicts more candidate pairs than this) the
# distributed plans run unchanged.
_MINHASH_DRIVER_MAX_CAND_PAIRS = 20_000_000


def _round6(x: float) -> float:
    """Exactly Spark's round(col, 6) = BigDecimal(Double.toString(x))
    .setScale(6, HALF_UP): Python repr() is the same shortest round-trip
    decimal rendering, and Decimal quantize HALF_UP the same rounding."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


# --- exact dedup -------------------------------------------------------------

def _norm(col: Column) -> Column:
    """Normalization for exact dedup: lowercase + collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _norm_sql(expr: str) -> str:
    return f"trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


def dedup_exact(df: DataFrame, id_col: str = "id", text_col: str = "text",
                skew_safe: bool = False) -> DataFrame:
    """(id, keeper_id, content_hash): every row mapped to the minimum id
    holding identical (normalized) content. keeper_id == id -> survivor.

    Default plan: one hash-partitioned window = ONE shuffle (a groupBy+join
    plan shuffles twice). The hash KEY space is uniform, but the VALUE
    distribution follows the content: a 100 TB corpus where 1% of documents
    are the same boilerplate puts all of them in one window partition that
    no optimizer can split (windows admit no partial aggregation).

    skew_safe=True is the 100 TB plan: keeper = min(id) per hash via
    groupBy — partial (map-side) aggregation shrinks even a
    billion-duplicate key to one row per map task before the shuffle — then
    a join back, where AQE's skew-join splitting handles the hot hash on
    the probe side. Two shuffles, but no single-task hotspot at any
    duplication ratio. Identical output (unit-tested equal)."""
    from pyspark.sql import Window

    h = hash64(_norm(F.col(text_col)))
    hashed = df.select(F.col(id_col).alias("id"), h.alias("content_hash"))
    if skew_safe:
        keepers = hashed.groupBy("content_hash").agg(F.min("id").alias("keeper_id"))
        return hashed.join(keepers, "content_hash").select(
            "id", "keeper_id", "content_hash"
        )
    w = Window.partitionBy("content_hash")
    return hashed.withColumn("keeper_id", F.min("id").over(w)).select(
        "id", "keeper_id", "content_hash"
    )


def dedup_exact_sql(table_sql: str, id_expr: str = "id", text_expr: str = "text") -> str:
    h = hash64_sql(_norm_sql(text_expr))
    return f"""
WITH _hashed AS (SELECT {id_expr} AS id, {h} AS content_hash FROM {table_sql})
SELECT id, min(id) OVER (PARTITION BY content_hash) AS keeper_id, content_hash
FROM _hashed
"""


def dedup_exact_incremental(new_df: DataFrame, old_df: DataFrame,
                            id_col: str = "id",
                            text_col: str = "text") -> DataFrame:
    """(id, keeper_id, keeper_is_old, content_hash) for NEW rows only: the
    snapshot shape of dedup_exact. A new row's keeper is the minimum OLD
    id holding identical normalized content when one exists (the
    accumulated corpus is canonical — its own dedup already ran when
    those snapshots landed), else the minimum NEW id of its hash group.
    keeper_id == id -> the row survives ingestion.

    Plan: both sides reduce to (hash, min-id) scalars with map-side
    combine before any shuffle — the old corpus contributes ONE row per
    distinct hash, so deduping a daily batch against years of corpus
    shuffles |new| + |distinct old hashes| scalars, never the old text.
    skew note: the groupBy sides pre-shrink hot hashes per map task; the
    probe join inherits AQE skew splitting (same contract as
    dedup_exact(skew_safe=True)). NULL-text rows hash NULL and group
    together (null-safe joins) — the same one-group semantics the batch
    operator's window gives them, so batch and incremental agree on
    every input."""
    h_new = hash64(_norm(F.col(text_col)))
    hashed = new_df.select(F.col(id_col).alias("id"), h_new.alias("content_hash"))
    new_keep = hashed.groupBy("content_hash").agg(
        F.min("id").alias("_new_keeper")) \
        .withColumnRenamed("content_hash", "_ch_n")
    old_keep = (
        old_df.select(F.col(id_col).alias("id"),
                      hash64(_norm(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash").agg(F.min("id").alias("_old_keeper"))
        .withColumnRenamed("content_hash", "_ch_o")
    )
    return (
        hashed.join(new_keep,
                    F.col("content_hash").eqNullSafe(F.col("_ch_n")))
        .join(old_keep,
              F.col("content_hash").eqNullSafe(F.col("_ch_o")), "left")
        .select(
            "id",
            F.coalesce(F.col("_old_keeper"), F.col("_new_keeper"))
            .alias("keeper_id"),
            F.col("_old_keeper").isNotNull().alias("keeper_is_old"),
            "content_hash")
    )


def dedup_exact_incremental_sql(new_sql: str, old_sql: str,
                                id_expr: str = "id",
                                text_expr: str = "text") -> str:
    h = hash64_sql(_norm_sql(text_expr))
    return f"""
WITH _hashed AS (SELECT {id_expr} AS id, {h} AS content_hash FROM {new_sql}),
_new_keep AS (
  SELECT content_hash, min(id) AS _new_keeper FROM _hashed GROUP BY 1
),
_old_keep AS (
  SELECT content_hash, min(id) AS _old_keeper FROM (
    SELECT {id_expr} AS id, {h} AS content_hash FROM {old_sql}
  ) GROUP BY 1
)
SELECT h.id,
       coalesce(_old_keeper, _new_keeper) AS keeper_id,
       _old_keeper IS NOT NULL AS keeper_is_old,
       h.content_hash
FROM _hashed h
JOIN _new_keep n ON h.content_hash IS NOT DISTINCT FROM n.content_hash
LEFT JOIN _old_keep o ON h.content_hash IS NOT DISTINCT FROM o.content_hash
"""


# --- minhash + LSH near-dup --------------------------------------------------

MINHASH_SIGS = 16
MINHASH_BANDS = 4  # 4 bands x 4 rows
SHINGLE_N = 3
# universal-hash family over the 32-bit shingle hashes: sig_i =
# min((a_i*h32 + b_i) mod P). One md5 per shingle TOTAL (vs one per shingle
# PER SIGNATURE with seeded md5s — measured 16x less hash work, 5.6 s ->
# ~1 s signatures at sf0.1). a_i*h32 < 2^57: no int64 overflow; identical
# integer math in DuckDB.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _perm_params(i: int) -> tuple[int, int]:
    return 976369 * i + 1234567, 104729 * i + 7919


def _minhash_sig(h32: Column, i: int) -> Column:
    a, b = _perm_params(i)
    return F.array_min(F.transform(
        h32, lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)))


def _minhash_sig_sql(h32_expr: str, i: int) -> str:
    a, b = _perm_params(i)
    return (f"list_min(list_transform({h32_expr}, "
            f"x -> (x * {a} + {b}) % {MINHASH_PRIME}))")


def minhash_signatures(df: DataFrame, id_col: str = "id", text_col: str = "text",
                       n_sigs: int = MINHASH_SIGS, shingle_n: int = SHINGLE_N) -> DataFrame:
    """(id, shingles, sig0..sig{n-1}) — one pass, no shuffle.

    The shingle array AND the per-shingle 32-bit hashes are PERSISTED before
    the signature projection: Catalyst collapses adjacent Projects, so
    without the materialization boundary every one of the n_sigs signature
    expressions re-inlines the full tokenize->shingle->hash pipeline (and a
    self-join doubles it) — measured 160 s vs ~2 s at sf0.01. At scale this
    materialization IS the signature-index build step (write once,
    bucket-join many)."""
    sh = F.array_distinct(shingles(tokenize(F.col(text_col)), n=shingle_n))
    base = _spread(df).select(F.col(id_col).alias("id"), sh.alias("shingles")).withColumn(
        "_h32", F.transform("shingles", lambda s: hash64(s).bitwiseAND(F.lit(0xFFFFFFFF)))
    ).transform(_persist)
    cols = [F.col("id"), F.col("shingles")]
    cols += [_minhash_sig(F.col("_h32"), i).alias(f"sig{i}") for i in range(n_sigs)]
    return base.select(*cols)


def _band_hash_cols(n_sigs: int, n_bands: int) -> list[Column]:
    """The per-band LSH bucket-hash expressions — ONE definition shared by
    the distributed banding (_band_entries) and the driver-regime collect
    (_driver_minhash_rows) so the two regimes cannot drift."""
    rows_per_band = n_sigs // n_bands
    cols = []
    for b in range(n_bands):
        parts = [F.col(f"sig{b * rows_per_band + r}").cast("string")
                 for r in range(rows_per_band)]
        cols.append(hash64(F.concat_ws("|", *parts), seed=1000 + b))
    return cols


def _vset_col() -> Column:
    return F.array_sort(F.array_distinct(
        F.transform("shingles", lambda s: hash64(s))))


def _band_entries(df: DataFrame, id_col: str, text_col: str, n_sigs: int,
                  n_bands: int, shingle_n: int) -> tuple[DataFrame, DataFrame]:
    """((id, band_idx, band_hash) entries, (id, shingles) sets) — the
    shared LSH front half of every minhash variant. The banded projection
    persists (its n_sigs signature expressions are the expensive part);
    the exploded entries are SCALARS only, so the shingle arrays never
    ride the bucket shuffle (x n_bands duplication) — they join back for
    the small candidate set."""
    rows_per_band = n_sigs // n_bands
    # zero-shingle docs (empty/whitespace-only text) must not band: their
    # signatures are all array_min([]) = NULL, and concat_ws SKIPS nulls,
    # so every empty doc would share the constant hash64("") bucket and
    # verify at jaccard 0/0 = NaN (which Spark orders ABOVE any threshold).
    # The SQL twins never form these pairs — their sig::VARCHAR || chains
    # are NULL, and a NULL band_hash joins nothing — so banding them here
    # is an engine divergence, not just noise (found in review).
    sigs = minhash_signatures(df, id_col, text_col, n_sigs, shingle_n) \
        .filter(F.size("shingles") > 0)
    band_hashes = [c.alias(f"band{b}") for b, c in
                   enumerate(_band_hash_cols(n_sigs, n_bands))]
    banded = sigs.select("id", *band_hashes).transform(_persist)
    entries = banded.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_hash"))
            for b in range(n_bands)
        ])).alias("e"),
    ).select("id", "e.band_idx", "e.band_hash")
    # verify sets are the sorted DISTINCT hash64 of the shingles, not the
    # strings (r12): candidates are already 1-band LSH agreements, so
    # nearly all of them reach exact verification — the verify join's
    # payload IS the fusion's shuffle at scale, and 8-byte longs cut it
    # ~3x vs ~25-byte 3-gram strings. Jaccard over the hash sets equals
    # Jaccard over the strings absent 64-bit collisions, and the SQL
    # twins hash identically (same hash64), so the engines cannot skew.
    vsets = sigs.select("id", _vset_col().alias("vset"))
    return entries, vsets


def _driver_minhash_rows(df: DataFrame, id_col: str, text_col: str,
                         n_sigs: int, n_bands: int,
                         shingle_n: int) -> tuple[list, dict]:
    """ONE map-only Arrow fetch of (id, [shingle hash64s]), then
    signatures, band keys and verify sets on the driver, keyed by ROW
    with the id as a label: ([(id, bands)], {id: [vset of each row]})
    over the rows with >= 1 shingle (zero-shingle rows never band — see
    _band_entries).

    r14 (guide §4.2/§4.3): the tokenize/shingle/md5 pipeline runs as a
    pandas UDF (native hashlib md5 per batch) instead of interpreted JVM
    HOF lambdas, the fetch is Arrow IPC (toArrow) instead of per-row
    pickling, and the hash arrays land as ONE flat int64 ndarray that the
    vectorized signature half consumes directly — measured 0.84 -> 0.58 s
    per fetch at sf0.1 plus the eliminated per-element int conversion.
    Exact: the permutation-min folds are int64 arithmetic with products
    < 2^56 (no overflow), numpy's % matches both engines' positive-
    operand mod, and the band keys hash the same decimal rendering of
    the sig values through the same md5 (py_hash64); tests/test_pyhash.py
    pins the hashes and the regime-equivalence tests the rest."""
    from collections import defaultdict

    import numpy as np

    from flouds_vectordb_spark.functions import pyhash
    from flouds_vectordb_spark.functions.hashing import py_hash64

    ids, values, offsets, _ = pyhash.fetch_lists(
        df, [id_col], pyhash.shingle_hash64_udf(shingle_n)(F.col(text_col)))
    nz = np.diff(offsets) > 0
    n_docs = int(nz.sum())
    banded: list = []
    sets: dict = defaultdict(list)
    if n_docs == 0:
        return banded, sets
    starts = offsets[:-1][nz]
    h32 = values & 0xFFFFFFFF
    sig_mat = np.empty((n_docs, n_sigs), dtype=np.int64)
    for i in range(n_sigs):
        a, b = _perm_params(i)
        sig_mat[:, i] = np.minimum.reduceat(
            (h32 * a + b) % MINHASH_PRIME, starts)
    rows_per_band = n_sigs // n_bands
    sig_list = sig_mat.tolist()  # one bulk int64 -> int conversion
    k = 0
    for j, rid in enumerate(ids):
        if not nz[j]:
            continue
        srow = sig_list[k]
        banded.append((rid, [
            py_hash64("|".join(str(srow[b * rows_per_band + r])
                               for r in range(rows_per_band)),
                      seed=1000 + b)
            for b in range(n_bands)
        ]))
        sets[rid].append(frozenset(values[offsets[j]:offsets[j + 1]].tolist()))
        k += 1
    return banded, sets


def _bucket_candidates(entries) -> set | None:
    """Candidate pairs from (label, bucket_key) entries: every (a, b)
    with a < b sharing >= 1 bucket — exactly the distributed bucket
    self-join's rule. Labels are de-duplicated within each bucket, so
    no (a, a) pair is emitted: with the id as label, the rows of one id
    never pair with each other. Returns None when
    the exact pre-flight (Σ K·(K-1)/2 over bucket sizes) predicts more
    pairs than the driver should enumerate; the caller then falls back
    to the distributed plan, which shares the same quadratic but spreads
    it over tasks."""
    from collections import defaultdict

    buckets: dict = defaultdict(set)
    for label, key in entries:
        buckets[key].add(label)
    est = sum(len(v) * (len(v) - 1) // 2 for v in buckets.values())
    if est > _MINHASH_DRIVER_MAX_CAND_PAIRS:
        return None
    cand: set = set()
    for labels in buckets.values():
        if len(labels) < 2:
            continue
        labels = sorted(labels)
        for i, a in enumerate(labels):
            for b in labels[i + 1:]:
                cand.add((a, b))
    return cand


def _verified_pairs(cand, sets_a: dict, sets_b: dict,
                    threshold: float) -> list[tuple]:
    """(a, b, jaccard_r) for every row of a x every row of b, over each
    candidate id pair (a, b), that passes
    round(|A∩B| / (|A|+|B|-|A∩B|), 6) >= threshold with the identical
    IEEE double division and HALF_UP rounding — the distributed verify
    join's one output row per passing row pair. Sets are never empty
    (zero-shingle rows do not band)."""
    th = float(threshold)
    out = []
    for a, b in cand:
        for sa in sets_a[a]:
            for sb in sets_b[b]:
                inter = float(len(sa & sb))
                j = _round6(inter / (float(len(sa) + len(sb)) - inter))
                if j >= th:
                    out.append((a, b, j))
    return out


def _driver_minhash_edges(banded: list, sets: dict,
                          threshold: float) -> list[tuple] | None:
    """LSH bucketing + exact-Jaccard verification over _driver_minhash_rows'
    output: candidates = ids with a row in the same (band_idx, band_hash)
    in >= 1 band (_bucket_candidates), verified row pair by row pair
    (_verified_pairs). Returns sorted (id_a, id_b, jaccard_r) tuples, or
    None (fall back) on a pre-flight overflow."""
    cand = _bucket_candidates(
        (rid, (bi, bh)) for rid, bands in banded
        for bi, bh in enumerate(bands))
    if cand is None:
        return None
    return sorted(_verified_pairs(cand, sets, sets, threshold))


def _jaccard_filtered(pairs: DataFrame, threshold: float,
                      *keep: str) -> DataFrame:
    """(id_a, id_b, *keep, jaccard_r) >= threshold from candidate rows
    carrying sh_a/sh_b set arrays — the exact-verify tail every Jaccard
    operator shares. Two empty sets verify at 0/0: try_divide's NULL
    drops the row, as the SQL twins' x/0 NULL does."""
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size(F.col("sh_a")) + F.size(F.col("sh_b"))).cast("double") - inter
    return (
        pairs.withColumn("jaccard_r", F.round(F.try_divide(inter, union), 6))
        .filter(F.col("jaccard_r") >= F.lit(float(threshold)))
        .select("id_a", "id_b", *keep, "jaccard_r")
    )


def _length_filtered(cand: DataFrame, sets: DataFrame,
                     threshold: float) -> DataFrame:
    """PPJoin-style length filter (Xiao et al. 2008) on a candidate list:
    J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so J >= θ requires
    θ·|B| <= |A| <= |B|/θ — decided on SCALAR shingle counts before any
    shingle array rides a join. Exact: only provably-failing pairs drop.
    The sizes probe reads the persisted signature table (sets carries the
    shingle arrays already materialized), so the two joins ship one int
    per side."""
    sizes = sets.select("id", F.size("vset").alias("_sz"))
    th = float(threshold)
    j = (cand
         .join(sizes.select(F.col("id").alias("id_a"),
                            F.col("_sz").alias("_sza")), "id_a")
         .join(sizes.select(F.col("id").alias("id_b"),
                            F.col("_sz").alias("_szb")), "id_b"))
    keep = ((F.col("_sza").cast("double")
             >= F.lit(th) * F.col("_szb").cast("double"))
            & (F.col("_szb").cast("double")
               >= F.lit(th) * F.col("_sza").cast("double")))
    return j.filter(keep).drop("_sza", "_szb")


def _verify_candidates(cand: DataFrame, sets: DataFrame,
                       threshold: float) -> DataFrame:
    """Exact-Jaccard verification of a (id_a, id_b) candidate list:
    persist+count the candidate list FIRST so Catalyst plans the id_a
    probe as a static broadcast join (AQE would sink the full shingle
    exchange before its runtime flip — r9 measured), and semi-join-prune
    the id_b shingle side to candidate ids so only dup-touching rows ride
    that sort-merge exchange."""
    cand = cand.transform(_persist)
    ids_b = (cand.select(F.col("id_b").alias("id")).dropDuplicates()
             .transform(_persist))
    ids_b.count()
    sets_b = (sets.join(ids_b, "id", "leftsemi")
              .select(F.col("id").alias("id_b"),
                      F.col("vset").alias("sh_b")))
    pairs = (
        cand.join(sets.select(F.col("id").alias("id_a"),
                              F.col("vset").alias("sh_a")), "id_a")
        .join(sets_b, "id_b")
    )
    return _jaccard_filtered(pairs, threshold)


def dedup_minhash(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
    shingle_n: int = SHINGLE_N,
    output: str = "pairs",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard_r) via banded MinHash-LSH.

    Candidates: equal band-hash in >=1 band (bucket self-join, never
    all-pairs). Verification: exact Jaccard over distinct shingle sets,
    rounded to 6 decimals for cross-engine hashability.

    output="components" (r9 VERDICT ask #4) returns (id, component_id)
    labels over the verified near-dup graph WITHOUT materializing the
    all-pairs list — see dedup_minhash_components. Pair output is
    quadratic in clone-cluster size (the x1000 dup-heavy regime paid
    15.9 GB of shuffle for 3.99M pairs a pipeline immediately collapses
    to keepers); label output is linear."""
    if output == "components":
        return dedup_minhash_components(df, id_col, text_col,
                                        jaccard_threshold, n_sigs, n_bands,
                                        shingle_n)
    if output != "pairs":
        raise ValueError(f"unknown output mode {output!r}")
    if regime.fits(df, regime.DRIVER_BYTES):
        from flouds_vectordb_spark.functions.local import local_df

        edges = _driver_minhash_edges(*_driver_minhash_rows(
            df, id_col, text_col, n_sigs, n_bands, shingle_n),
            jaccard_threshold)
        if edges is not None:
            idt = dict(df.dtypes)[id_col]
            return local_df(df.sparkSession, edges,
                            f"id_a {idt}, id_b {idt}, jaccard_r double")
    # SHUFFLE REGIME. The measured fact (stage-level event-log profile,
    # r9) driving the candidate build: pre-partition the band entries on
    # the bucket key and persist — the cached relation's HashPartitioning
    # satisfies BOTH self-join sides' required distribution, so the
    # bucket shuffle materializes once instead of once per side
    # (alias-only self-joins do NOT canonicalize to a ReusedExchange
    # here). The verify-join shape (candidate cache materialized before
    # planning, id_b shingle side semi-join-pruned — net 1101.7 -> 289.8
    # shuffle MB at 500k docs) lives in _verify_candidates, shared with
    # the cluster-output fusion.
    entries, sets = _band_entries(df, id_col, text_col, n_sigs, n_bands,
                                  shingle_n)
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                          "32"))
    entries = entries.repartition(
        n_part, "band_idx", "band_hash").transform(_persist)
    ea, eb = entries.alias("_ea"), entries.alias("_eb")
    cand = (
        ea.join(eb, (F.col("_ea.band_idx") == F.col("_eb.band_idx"))
                & (F.col("_ea.band_hash") == F.col("_eb.band_hash")))
        .filter(F.col("_ea.id") < F.col("_eb.id"))
        .select(F.col("_ea.id").alias("id_a"),
                F.col("_eb.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_candidates(cand, sets, jaccard_threshold)


def _band_side_sql(src: str, tag: str, id_expr: str, text_expr: str,
                   n_sigs: int, n_bands: int, shingle_n: int,
                   entries_with_shingles: bool = False) -> str:
    """The `_sh[_tag] -> _hashed -> _sigs -> _banded -> _entries` CTE
    block every minhash twin shares — ONE rendering of the shingle /
    signature / banding SQL so the three twins (batch, incremental, fuzzy
    decontamination) cannot skew (review finding: this scaffolding had
    been copy-pasted three times)."""
    sfx = f"_{tag}" if tag else ""
    rows_per_band = n_sigs // n_bands
    toks = tokenize_sql(text_expr)
    sh = f"list_distinct({shingles_sql(toks, n=shingle_n)})"
    h32 = f"list_transform(shingles, s -> ({hash64_sql('s')} & 4294967295))"
    sig_sel = "".join(
        f", {_minhash_sig_sql('_h32', i)} AS sig{i}" for i in range(n_sigs))
    band_sel = ""
    for b in range(n_bands):
        parts = " || '|' || ".join(
            f"sig{b * rows_per_band + r}::VARCHAR"
            for r in range(rows_per_band))
        band_sel += f", {hash64_sql(f'({parts})', seed=1000 + b)} AS band{b}"
    extra = "shingles, " if entries_with_shingles else ""
    union_entries = " UNION ALL ".join(
        f"SELECT id, {extra}{b} AS band_idx, band{b} AS band_hash "
        f"FROM _banded{sfx}" for b in range(n_bands))
    # _vs: the hash64 verify set — the twin of _band_entries' vset (r12);
    # Jaccard is computed over these, not the shingle strings. Zero-
    # shingle rows are left out as the engine leaves them out: a
    # duplicate id's empty row would otherwise verify at J = 0 against
    # the other id's rows whenever the threshold is <= 0
    vset = (f"list_sort(list_distinct(list_transform(shingles, "
            f"s -> {hash64_sql('s')})))")
    return f"""
_sh{sfx} AS (SELECT {id_expr} AS id, {sh} AS shingles FROM {src}),
_vs{sfx} AS (SELECT id, {vset} AS vset FROM _sh{sfx}
            WHERE len(shingles) > 0),
_hashed{sfx} AS (SELECT id, shingles, {h32} AS _h32 FROM _sh{sfx}),
_sigs{sfx} AS (SELECT id, shingles{sig_sel} FROM _hashed{sfx}),
_banded{sfx} AS (SELECT *{band_sel} FROM _sigs{sfx}),
_entries{sfx} AS ({union_entries})"""


def dedup_minhash_sql(
    table_sql: str,
    id_expr: str = "id",
    text_expr: str = "text",
    jaccard_threshold: float = 0.5,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
    shingle_n: int = SHINGLE_N,
) -> str:
    """DuckDB oracle twin of dedup_minhash."""
    side = _band_side_sql(table_sql, "", id_expr, text_expr, n_sigs,
                          n_bands, shingle_n, entries_with_shingles=True)
    return f"""
WITH {side},
_cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM _entries a JOIN _entries b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
),
_pairs AS (
  SELECT c.id_a, c.id_b,
         round(len(list_intersect(sa.vset, sb.vset))::DOUBLE
               / (len(sa.vset) + len(sb.vset)
                  - len(list_intersect(sa.vset, sb.vset)))::DOUBLE, 6) AS jaccard_r
  FROM _cand c
  JOIN _vs sa ON c.id_a = sa.id
  JOIN _vs sb ON c.id_b = sb.id
)
SELECT id_a, id_b, jaccard_r FROM _pairs WHERE jaccard_r >= {float(jaccard_threshold)!r}
"""


def dedup_minhash_components(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """(id, component_id) labels over the EXACT verified near-dup graph,
    computed WITHOUT materializing the all-pairs list (r9 VERDICT ask #4).

    dedup_components(dedup_minhash(df)) verifies every co-bucket pair —
    quadratic in clone-cluster size K (a 1000-clone cluster is ~500k
    verified pairs that components immediately collapses to one keeper).
    This fusion verifies a per-bucket STAR first and falls back to
    pairwise only where the star is inconclusive:

    1. per (band, band_hash) bucket with >= 2 members: verify each member
       against the bucket MIN (K-1 pairs per bucket);
    2. members whose star edge FAILED in a bucket are that bucket's
       UNRESOLVED set — verify them pairwise against every co-member of
       that same bucket (minus pairs the star already verified);
    3. components over {star passes} ∪ {phase-2 passes}.

    EXACTNESS (same labels as the pair-mode composition, which the oracle
    twin computes): every candidate pair (u, v) sharing bucket Z with min
    m is accounted for — if u = m or v = m it IS a star pair; if either
    failed its star edge in Z it is Z-unresolved and (u, v) is verified
    in phase 2; if both passed, u–m and v–m are true edges so u and v are
    already connected through m and the (u, v) edge is redundant for the
    closure. Every emitted edge is Jaccard-verified, so the closure can't
    grow either; node sets match because a node appears in the pair graph
    iff it has >= 1 verified pair, and the case analysis gives it >= 1
    emitted edge exactly then.

    Scale shape: clone-heavy corpora (buckets ~ true cliques) verify
    K-1 star edges per bucket and an ~empty phase 2 — linear where pair
    mode is quadratic. The adversarial worst case (buckets full of LSH
    false positives that all fail verification) degrades to pair mode's
    pairwise volume plus the star overhead.

    DRIVER regime (r13): at gate scale the star machinery exists to avoid
    a quadratic the corpus cannot produce — candidates, verification and
    union-find all run on one collected scalar table instead (exact: the
    fusion's labels equal pair-mode labels by the case analysis above,
    and the driver path computes pair mode literally)."""
    if regime.fits(df, regime.DRIVER_BYTES):
        edges = _driver_minhash_edges(*_driver_minhash_rows(
            df, id_col, text_col, n_sigs, n_bands, shingle_n),
            jaccard_threshold)
        if edges is not None:
            idt = dict(df.dtypes)[id_col]
            return _driver_union_find([(a, b) for a, b, _ in edges], idt,
                                      df.sparkSession)
    entries, sets = _band_entries(df, id_col, text_col, n_sigs, n_bands,
                                  shingle_n)
    # one bucket exchange serves the rep aggregation, the star join and
    # the phase-2 co-member join (the pair path's measured trick)
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                          "32"))
    entries = entries.repartition(
        n_part, "band_idx", "band_hash").transform(_persist)
    reps = (
        entries.groupBy("band_idx", "band_hash")
        .agg(F.min("id").alias("_rep"), F.count("*").alias("_n"))
        .filter(F.col("_n") > 1).drop("_n")
    )
    # (band_idx, band_hash, _rep, id): one row per non-rep bucket member.
    # Persisted: consumed by the star candidate list AND the unresolved
    # anti-join below.
    star_rows = (
        entries.join(reps, ["band_idx", "band_hash"])
        .filter(F.col("id") != F.col("_rep"))
    ).transform(_persist)
    star_cand = (star_rows.select(F.col("_rep").alias("id_a"),
                                  F.col("id").alias("id_b"))
                 .dropDuplicates(["id_a", "id_b"]))
    # PPJoin LENGTH filter on BOTH verify passes (r11): drops provably-
    # failing pairs on scalar sizes before the verify arrays ride the
    # joins. A PREFIX filter (r12 ask #3, now a test reference in
    # tests/reference_impls.py) was wired
    # here and MEASURED OUT: on the x1000 clone corpus LSH's 16-band
    # agreement already leaves almost no false candidates for a prefix
    # test to prune — θ=0.5 prefixes overlapped for ~every candidate —
    # so the probe's (1-θ)·|set| longs per side were pure added shuffle
    # (26.7 GB vs 20.7 length-only). The byte win that actually landed
    # is upstream: verify sets are hash64 arrays, not shingle strings
    # (see _band_entries). Exactness of the length test: a filtered star
    # edge is exactly a FAILED star edge, so its members land in the
    # unresolved set and phase 2 adjudicates them, the same path a
    # Jaccard-failed edge takes.
    star_pairs = _verify_candidates(
        _length_filtered(star_cand, sets, jaccard_threshold), sets,
        jaccard_threshold).transform(_persist)
    unresolved = star_rows.join(
        star_pairs.select(F.col("id_a").alias("_rep"),
                          F.col("id_b").alias("id")),
        ["_rep", "id"], "left_anti")
    members = entries.select("band_idx", "band_hash",
                             F.col("id").alias("_v"))
    p2_cand = (
        unresolved.join(members, ["band_idx", "band_hash"])
        .filter(F.col("_v") != F.col("id"))
        .select(F.least("id", "_v").alias("id_a"),
                F.greatest("id", "_v").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        # star candidates are already verified (pass or fail) — never
        # re-verify; note star pairs always have id_a = bucket min < id_b,
        # the same orientation least/greatest produces
        .join(star_cand, ["id_a", "id_b"], "left_anti")
    )
    p2_pairs = _verify_candidates(
        _length_filtered(p2_cand, sets, jaccard_threshold), sets,
        jaccard_threshold)
    edges = (star_pairs.select("id_a", "id_b")
             .unionByName(p2_pairs.select("id_a", "id_b")))
    return dedup_components(edges)


def dedup_minhash_components_sql(
    table_sql: str,
    id_expr: str = "id",
    text_expr: str = "text",
    jaccard_threshold: float = 0.5,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
    shingle_n: int = SHINGLE_N,
) -> str:
    """DuckDB oracle twin: components over the FULL pair-mode graph — the
    fusion is exact, so the naive quadratic composition is its oracle."""
    pairs = dedup_minhash_sql(table_sql, id_expr, text_expr,
                              jaccard_threshold, n_sigs, n_bands, shingle_n)
    return dedup_components_sql(f"({pairs})")


def dedup_minhash_incremental(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """Near-dup pairs TOUCHING the new snapshot only: (id_a, id_b,
    b_is_old, jaccard_r) where id_a is always a new document and id_b is
    either an old document (b_is_old) or a later-id new one (id_a < id_b,
    the dedup_minhash rule). The production snapshot shape: deduping a
    new crawl against an accumulated corpus must never re-pair the old
    corpus against itself — old×old candidates are O(|old|²·dup-rate)
    work that was already done when those snapshots landed. Ids must be
    globally unique across both inputs (the upsert pk contract).

    Same bands/hashes as dedup_minhash, so (new ∪ old) batch results and
    incremental results agree on every pair touching a new doc (tested).
    At 100 TB the old side's (id, band_idx, band_hash) entries and
    shingle sets are the PERSISTED artifact minhash_signatures documents
    — this operator recomputes them only because it takes raw text; feed
    a narrowed old_df (e.g. the candidate buckets' rows) where the
    artifact exists. Shuffle shape: band-bucket join on scalars, shingle
    arrays join back only for verified candidates."""
    new_ent, new_sets = _band_entries(new_df, id_col, text_col, n_sigs,
                                      n_bands, shingle_n)
    old_ent, old_sets = _band_entries(old_df, id_col, text_col, n_sigs,
                                      n_bands, shingle_n)

    # aliased self/cross joins (equivalent to the re-projected two-branch
    # form — aliases do NOT canonicalize to a ReusedExchange, measured in
    # dedup_minhash). The incremental shape doesn't need the batch path's
    # repartition-persist trick: the new snapshot side is small by
    # contract, so both the new x new and new x old joins broadcast it.
    na, nb = new_ent.alias("_na"), new_ent.alias("_nb")
    ob = old_ent.alias("_ob")
    nn = (
        na.join(nb, (F.col("_na.band_idx") == F.col("_nb.band_idx"))
                & (F.col("_na.band_hash") == F.col("_nb.band_hash")))
        .filter(F.col("_na.id") < F.col("_nb.id"))
        .select(F.col("_na.id").alias("id_a"),
                F.col("_nb.id").alias("id_b"),
                F.lit(False).alias("b_is_old"))
    )
    no = (
        na.join(ob, (F.col("_na.band_idx") == F.col("_ob.band_idx"))
                & (F.col("_na.band_hash") == F.col("_ob.band_hash")))
        .select(F.col("_na.id").alias("id_a"),
                F.col("_ob.id").alias("id_b"),
                F.lit(True).alias("b_is_old"))
    )
    cand = nn.unionByName(no).dropDuplicates(["id_a", "id_b", "b_is_old"])
    sets_b = new_sets.select(F.col("id").alias("id_b"),
                             F.col("vset").alias("sh_b")).unionByName(
        old_sets.select(F.col("id").alias("id_b"),
                        F.col("vset").alias("sh_b")))
    pairs = (
        cand.join(new_sets.select(F.col("id").alias("id_a"),
                                  F.col("vset").alias("sh_a")), "id_a")
        .join(sets_b, "id_b")
    )
    return _jaccard_filtered(pairs, jaccard_threshold, "b_is_old")


def dedup_minhash_incremental_sql(
    new_sql: str,
    old_sql: str,
    id_expr: str = "id",
    text_expr: str = "text",
    jaccard_threshold: float = 0.5,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
    shingle_n: int = SHINGLE_N,
) -> str:
    """DuckDB oracle twin of dedup_minhash_incremental."""

    def _side(src: str, tag: str) -> str:
        return _band_side_sql(src, tag, id_expr, text_expr, n_sigs,
                              n_bands, shingle_n)

    return f"""
WITH {_side(new_sql, 'n')},{_side(old_sql, 'o')},
_cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, FALSE AS b_is_old
  FROM _entries_n a JOIN _entries_n b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
  UNION
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, TRUE AS b_is_old
  FROM _entries_n a JOIN _entries_o b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
),
_sets_b AS (
  SELECT id, vset FROM _vs_n UNION ALL SELECT id, vset FROM _vs_o
),
_pairs AS (
  SELECT c.id_a, c.id_b, c.b_is_old,
         round(len(list_intersect(sa.vset, sb.vset))::DOUBLE
               / (len(sa.vset) + len(sb.vset)
                  - len(list_intersect(sa.vset, sb.vset)))::DOUBLE,
               6) AS jaccard_r
  FROM _cand c
  JOIN _vs_n sa ON c.id_a = sa.id
  JOIN _sets_b sb ON c.id_b = sb.id
)
SELECT id_a, id_b, b_is_old, jaccard_r FROM _pairs
WHERE jaccard_r >= {float(jaccard_threshold)!r}
"""


# --- exact n-gram Jaccard (AllPairs prefix-filter join) ----------------------

def _shingle_hashes(text_col: Column, shingle_n: int) -> Column:
    """Canonically-ordered distinct shingle-hash set of a document."""
    return F.array_sort(F.array_distinct(
        F.transform(shingles(tokenize(text_col), n=shingle_n), lambda s: hash64(s))
    ))


def _shingle_hashes_sql(text_expr: str, shingle_n: int) -> str:
    toks = tokenize_sql(text_expr)
    return (
        f"list_sort(list_distinct(list_transform({shingles_sql(toks, n=shingle_n)}, "
        f"s -> {hash64_sql('s')})))"
    )


# pre-flight bound on the inverted-index join's output rows (r12,
# VERDICT ask #4): x1000 theta=0.8 died DISK-FULL past 70 GB of spill
# with no warning. 1e9 pairs ~ tens of GB of join shuffle — above it the
# corpus is clone-heavy and the output is quadratic BY CONSTRUCTION;
# dedup_minhash_components' cluster-output mode is the right tool.
_NGRAM_GUARD_MAX_PAIRS = 1_000_000_000


def _within_group_pairs(keys, n_items):
    """(a_el, b_el): every (earlier, later) index pair within each run of
    equal values in the SORTED array `keys` — the shared enumeration core
    of the driver ngram regime (collision pairs, then prefix-candidate
    pairs). Empty input -> two empty arrays."""
    import numpy as np

    if n_items == 0:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty
    grp_start = np.flatnonzero(
        np.concatenate(([True], keys[1:] != keys[:-1])))
    grp_sizes = np.diff(np.concatenate((grp_start, [n_items])))
    eidx = np.arange(n_items, dtype=np.int64)
    grp_end = np.repeat(grp_start + grp_sizes, grp_sizes)
    reps = grp_end - eidx - 1
    a_el = np.repeat(eidx, reps)
    blk = np.concatenate(([0], np.cumsum(reps)[:-1]))
    b_el = np.arange(int(reps.sum()), dtype=np.int64) \
        - np.repeat(blk, reps) + a_el + 1
    return a_el, b_el


def _driver_ngram_pairs(ids, values, offsets, t: float,
                        max_candidate_pairs: int,
                        enforce_guard: bool) -> list[tuple] | None:
    """Exact n-gram Jaccard pairs over the flat (id, hset) hash layout,
    fully vectorized: emit every within-hash-group row pair once per
    shared hash, so the pair's MULTIPLICITY (np.unique counts) IS the
    exact intersection size — no per-pair set ops.

    CANDIDATE SHAPE == the distributed plan's (r14, ADVICE): a pair is a
    candidate only when some shared hash lies in BOTH docs' prefixes AND
    that collision passes the size-ratio and PPJoin positional bounds —
    the same double arithmetic, same 1e-9 slack. (The r13 any-shared-hash
    superset could, on a rounding knife edge — true J < t but
    round6(J) >= t — emit a pair the inverted-index plan never sees.)
    ROWS are the working set and the id is their label: a candidate is a
    distinct id pair (id_a < id_b) with such a collision between some
    row of each, and every row of id_a x every row of id_b is verified;
    a 0/0 row pair (two empty sets) drops, as the plan's NULL does.

    enforce_guard mirrors the distributed pre-flight exactly (same
    prefix-frequency estimate, same error) — the caller passes
    max_candidate_pairs > 0 AND not regime.fits(df, regime.SMALL_BYTES),
    so small corpora never raise here either. Returns None (fall back to
    the distributed plan) when total shared-hash pairs exceed the driver
    bound."""
    import numpy as np

    n_docs = len(ids)
    if n_docs < 2:
        return []
    sizes = np.diff(offsets)
    nnz = int(sizes.sum())
    if nnz == 0:
        return []
    # id codes in id order, so a code pair ca < cb is id_a < id_b
    uniq = sorted(set(ids))
    code_of = {r: c for c, r in enumerate(uniq)}
    codes = np.fromiter(map(code_of.__getitem__, ids), np.int64, n_docs)
    hashes = values
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), sizes)
    starts = offsets[:-1]
    pos = np.arange(nnz, dtype=np.int64) - np.repeat(starts, sizes)
    plen = sizes - np.ceil(t * sizes).astype(np.int64) + 1
    in_prefix = pos < plen[doc_idx]
    order = np.argsort(hashes, kind="stable")
    hs, di, pf, po = (hashes[order], doc_idx[order], in_prefix[order],
                      pos[order])
    grp_start = np.flatnonzero(np.concatenate(([True], hs[1:] != hs[:-1])))
    grp_sizes = np.diff(np.concatenate((grp_start, [nnz])))
    if enforce_guard:
        pf_counts = np.add.reduceat(pf.astype(np.int64), grp_start)
        est = int((pf_counts * (pf_counts - 1) // 2).sum())
        if est > max_candidate_pairs:
            raise RuntimeError(
                f"dedup_ngram_jaccard pre-flight: the prefix "
                f"inverted-index join would produce ~{est:,} candidate "
                f"rows (> max_candidate_pairs={max_candidate_pairs:,}). "
                f"The corpus is clone-heavy and the exact pair output is "
                f"quadratic by construction; use dedup_minhash_components "
                f"(cluster output) instead, or raise max_candidate_pairs "
                f"explicitly to force the run.")
    if int((grp_sizes * (grp_sizes - 1) // 2).sum()) \
            > _MINHASH_DRIVER_MAX_CAND_PAIRS:
        return None
    # row-pair intersection sizes from ALL collision pairs (multiplicity
    # trick)
    a_el, b_el = _within_group_pairs(hs, nnz)
    ia, ib = di[a_el], di[b_el]
    lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
    keys, inter = np.unique(lo * n_docs + hi, return_counts=True)
    # candidate id pairs from PREFIX collisions passing the distributed
    # plan's id_a < id_b, size-ratio and positional filters (a pair
    # survives if ANY of its prefix collisions passes — the
    # dropDuplicates semantics)
    pe = np.flatnonzero(pf)
    pa_el, pb_el = _within_group_pairs(hs[pe], len(pe))
    pia, pib = di[pe][pa_el], di[pe][pb_el]
    ppa, ppb = po[pe][pa_el], po[pe][pb_el]
    na, nb = sizes[pia], sizes[pib]
    keep = (np.minimum(na, nb).astype(np.float64)
            >= t * np.maximum(na, nb).astype(np.float64))
    reach = 1 + np.minimum(na - ppa - 1, nb - ppb - 1)
    alpha = (t / (1.0 + t)) * (na + nb).astype(np.float64)
    keep &= (reach.astype(np.float64) >= alpha - 1e-9) \
        & (codes[pia] != codes[pib])
    ca, cb = codes[pia][keep], codes[pib][keep]
    cand = np.unique(np.minimum(ca, cb) * n_docs + np.maximum(ca, cb))
    # every row of id_a x every row of id_b: rows grouped by code
    ca, cb = cand // n_docs, cand % n_docs
    by_code = np.argsort(codes, kind="stable")
    cnt = np.bincount(codes, minlength=len(uniq))
    first = np.cumsum(cnt) - cnt
    reps = cnt[ca] * cnt[cb]
    ci = np.repeat(np.arange(len(cand)), reps)
    k = np.arange(int(reps.sum())) - np.repeat(np.cumsum(reps) - reps, reps)
    ra = by_code[first[ca][ci] + k // cnt[cb][ci]]
    rb = by_code[first[cb][ci] + k % cnt[cb][ci]]
    # a row pair's intersection is its collision multiplicity, else 0
    rk = np.minimum(ra, rb) * n_docs + np.maximum(ra, rb)
    at = np.minimum(np.searchsorted(keys, rk), len(keys) - 1)
    it = np.where(keys[at] == rk, inter[at], 0)
    un = (sizes[ra] + sizes[rb] - it).astype(np.float64)
    j = np.divide(it, un, out=np.full(len(un), np.nan), where=un > 0)
    # conservative vector prefilter (0/0 = NaN fails it); exact scalar
    # IEEE + HALF_UP on the handful of survivors (same ops as the Column
    # plan)
    m = j >= (t - 1e-6)
    out = []
    for a_i, b_i, x in zip(ra[m].tolist(), rb[m].tolist(), it[m].tolist()):
        fa = float(x)
        jj = _round6(fa / (float(int(sizes[a_i]) + int(sizes[b_i])) - fa))
        if jj >= t:
            out.append((ids[a_i], ids[b_i], jj))
    out.sort()
    return out


def dedup_ngram_jaccard(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    shingle_n: int = SHINGLE_N,
    max_candidate_pairs: int = _NGRAM_GUARD_MAX_PAIRS,
) -> DataFrame:
    """EXACT near-duplicate pairs (id_a < id_b, jaccard_r >= t) by n-gram
    Jaccard — no MinHash approximation in candidate generation.

    Scale path: AllPairs prefix filtering (Bayardo/Ma/Srikant, WWW'07).
    Each doc's distinct shingle hashes are sorted into one global canonical
    order; any pair with Jaccard >= t shares >= ceil(t*|x|) elements, so it
    MUST collide inside each side's first ``|x| - ceil(t*|x|) + 1`` hashes.
    Candidates therefore come from an inverted-index self-join over those
    short PREFIXES only — never all-pairs, and the prefix (hence shuffle)
    shrinks as t grows. Exact: zero false negatives by construction
    (unit-tested against brute-force all-pairs), then exact Jaccard on the
    full sets verifies each candidate.

    Pre-flight guard (r12): on clone-heavy corpora the RESULT is
    quadratic by construction, so the join explodes no matter how exact
    the filters are — x1000 theta=0.8 spilled >70 GB and died DISK-FULL
    with no warning. Before launching the pair stage on a non-small
    corpus, one cheap agg over prefix-hash frequencies computes the join
    output EXACTLY (sum of c_h*(c_h-1)/2); above max_candidate_pairs the
    operator raises with the number and points at
    dedup_minhash_components(cluster output) instead of dying mid-job.
    <= 0 disables the guard. Small corpora (the gate fixtures) skip the
    check entirely — zero extra actions on the bench path.

    DRIVER regime (r13): the operator is EXACT — output depends only on
    the full hash sets, not on how candidates were generated — so below
    the collect bound the prefix inverted index, positional filter and
    verification run over one collected (id, hset) table: one Spark job
    instead of the 10 the broadcast-join plan schedules at gate scale.
    The same pre-flight (Σ c_h·(c_h-1)/2 over prefix-hash frequencies,
    computed exactly from the collected prefixes) bounds the driver
    enumeration; past max_candidate_pairs it raises the same error."""
    t = float(jaccard_threshold)
    if regime.fits(df, regime.DRIVER_BYTES):
        from flouds_vectordb_spark.functions import pyhash
        from flouds_vectordb_spark.functions.local import local_df

        ids, values, offsets, _ = pyhash.fetch_lists(
            df, [id_col],
            pyhash.sorted_shingle_hash64_udf(shingle_n)(F.col(text_col)))
        out = _driver_ngram_pairs(
            ids, values, offsets, t, max_candidate_pairs,
            enforce_guard=(max_candidate_pairs > 0
                           and not regime.fits(df, regime.SMALL_BYTES)))
        if out is not None:
            idt = dict(df.dtypes)[id_col]
            return local_df(df.sparkSession, out,
                            f"id_a {idt}, id_b {idt}, jaccard_r double")
    base = _spread(df).select(
        F.col(id_col).alias("id"),
        _shingle_hashes(F.col(text_col), shingle_n).alias("hset"),
    ).transform(_persist)
    # prefix entries carry only (id, len, prefix-position, h) — the shingle
    # ARRAYS never enter the inverted-index shuffle (they'd be duplicated
    # x prefix_len); they are hash-joined back for the (small) surviving
    # candidate set instead
    plen = (F.size("hset") - F.ceil(F.lit(t) * F.size("hset")) + F.lit(1)).cast("int")
    entries = base.select(
        "id", F.size("hset").alias("n"),
        F.posexplode(F.slice("hset", 1, plen)).alias("p", "h"),
    )
    if max_candidate_pairs > 0 and not regime.fits(df, regime.SMALL_BYTES):
        est_row = (entries.groupBy("h").count()
                   .agg(F.coalesce(
                       F.sum(F.col("count") * (F.col("count") - F.lit(1))
                             / F.lit(2)), F.lit(0.0)).alias("est"))
                   .first())
        est = int(est_row["est"] or 0)
        if est > max_candidate_pairs:
            raise RuntimeError(
                f"dedup_ngram_jaccard pre-flight: the prefix inverted-index "
                f"join would produce ~{est:,} candidate rows "
                f"(> max_candidate_pairs={max_candidate_pairs:,}). The "
                f"corpus is clone-heavy and the exact pair output is "
                f"quadratic by construction; use dedup_minhash_components "
                f"(cluster output) instead, or raise max_candidate_pairs "
                f"explicitly to force the run.")
    a = entries.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"),
                       F.col("p").alias("p_a"), "h")
    b = entries.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"),
                       F.col("p").alias("p_b"), "h")
    # PPJoin positional filter (Xiao/Wang/Lin/Yu, WWW'08): Jaccard >= t
    # forces overlap >= t/(1+t) * (|a|+|b|); a collision at 0-based prefix
    # positions (p_a, p_b) bounds the achievable overlap by
    # 1 + min(|a|-p_a, |b|-p_b) - 1 elements remaining after it. Exact:
    # only provably-failing pairs are pruned (brute-force equivalence
    # tests cover it); the 1e-9 slack keeps float rounding conservative.
    alpha = F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")).cast("double")
    reach = F.lit(1) + F.least(F.col("n_a") - F.col("p_a") - 1,
                               F.col("n_b") - F.col("p_b") - 1)
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        # size-ratio prefilter: Jaccard >= t forces min|set| >= t * max|set|
        .filter(F.least("n_a", "n_b").cast("double")
                >= F.lit(t) * F.greatest("n_a", "n_b").cast("double"))
        .filter(reach.cast("double") >= alpha - F.lit(1e-9))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(base.select(F.col("id").alias("id_a"), F.col("hset").alias("sh_a")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("hset").alias("sh_b")), "id_b")
    )
    return _jaccard_filtered(pairs, t)


def dedup_ngram_jaccard_sql(
    table_sql: str,
    id_expr: str = "id",
    text_expr: str = "text",
    jaccard_threshold: float = 0.5,
    shingle_n: int = SHINGLE_N,
) -> str:
    """DuckDB oracle twin of dedup_ngram_jaccard (same prefix-filter plan)."""
    t = float(jaccard_threshold)
    hset = _shingle_hashes_sql(text_expr, shingle_n)
    return f"""
WITH _h AS (SELECT {id_expr} AS id, {hset} AS hset FROM {table_sql}),
_entries AS (
  SELECT id, hset, unnest(list_slice(hset, 1,
         (len(hset) - ceil({t!r} * len(hset)) + 1)::INT)) AS h
  FROM _h
),
_cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM _entries a JOIN _entries b ON a.h = b.h AND a.id < b.id
),
_pairs AS (
  SELECT c.id_a, c.id_b,
         round(len(list_intersect(sa.hset, sb.hset))::DOUBLE
               / (len(sa.hset) + len(sb.hset)
                  - len(list_intersect(sa.hset, sb.hset)))::DOUBLE, 6) AS jaccard_r
  FROM _cand c
  JOIN _h sa ON c.id_a = sa.id
  JOIN _h sb ON c.id_b = sb.id
)
SELECT id_a, id_b, jaccard_r FROM _pairs WHERE jaccard_r >= {t!r}
"""


# --- near-dup connected components (pairs -> canonical keeper) ---------------

_AUTO_JUMP_AFTER = 3  # unconverged propagation rounds before auto pointer-jump

# pair graphs at or below this edge count take the driver union-find
# fast path: a 1k-node near-dup graph costs 2+ full Spark jobs in the
# distributed loop, ~all of it scheduling. 200k pairs collect to ~20 MB
# of driver tuples — the same order as the bounded frontier/sample
# collects elsewhere in this repo; above it the loop runs distributed.
_DRIVER_CC_MAX_EDGES = 200_000


def _driver_union_find(edge_rows, id_type: str, spark) -> DataFrame:
    """Exact union-find over a COLLECTED edge list; component_id = min
    member. Path-halving find; output via local_df for small node sets
    (LocalRelation, no task stage), createDataFrame above 10k nodes."""
    from flouds_vectordb_spark.functions.local import local_df

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    rows = sorted((x, comp_min[find(x)]) for x in parent)
    schema = f"id {id_type}, component_id {id_type}"
    if len(rows) <= 10_000:
        return local_df(spark, rows, schema)
    return spark.createDataFrame(rows, schema)


def dedup_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                     max_iter: int = 50,
                     pointer_jump: bool | None = None,
                     driver_threshold: int = _DRIVER_CC_MAX_EDGES) -> DataFrame:
    """(id, component_id) over the near-dup pair graph; component_id =
    min member id — the canonical keeper a pipeline retains while dropping
    the rest of each component.

    Plan: iterative min-label propagation (the GraphX-free connected
    components): each round, every node takes the min label among itself
    and its neighbors; stop when a round changes nothing. Rounds needed =
    component diameter — near-dup components are small dense clusters
    (dozens of docs sharing content), so this converges in a handful of
    keyed-shuffle rounds at any corpus scale; a pathological million-hop
    chain would want the large-star/small-star variant instead
    (documented, not needed for near-dup graphs). Each round is one
    edges⋈labels join + a map-side-combinable min — no global sort, no
    driver-side graph. The convergence check costs ZERO extra jobs: the
    changed-row count is an `observe()` metric (CollectMetrics) on the
    update plan, filled by the SAME action that materializes the eager
    localCheckpoint — and the `_chg` flag is projected away above the
    metrics node, so the checkpointed state stays pure (id, lbl) scalars.

    Raises RuntimeError if max_iter rounds elapse before the fixpoint
    (long-diameter pair graph): partially propagated labels would
    silently keep extra duplicates or merge wrong groups downstream.

    pointer_jump adds label-doubling to a round (every node also takes
    the CURRENT label of its label — one extra labels⋈labels join, the
    large-star idea): propagation distance doubles per round, so rounds
    drop from O(diameter) to O(log diameter). Default None = ADAPTIVE
    (r9): plain rounds while the graph behaves like a near-dup graph
    (shallow dense clusters), and jumping auto-enables after
    _AUTO_JUMP_AFTER unconverged rounds — the still-unconverged-at-depth-k
    signal IS the long-chain detector, and costs nothing to read (the
    round counter). True forces jumping from round one, False never jumps
    (test-covered: a 60-hop chain converges in ~7 jumped rounds vs >30
    plain, and the adaptive default handles it inside max_iter=12).

    Round 1 is FUSED into label initialization (r9): with identity
    labels the first edges⋈labels join is a no-op translation, so
    lbl_1(v) = min(v, min neighbor) comes from one aggregation over the
    cached edges — one fewer join and one fewer checkpoint job per call.

    Small graphs (<= driver_threshold pairs, default 200k) take a DRIVER
    union-find fast path (r9): the pair count is known from the same
    action that materializes the edge cache, the collected edges are
    bounded scalars, and exact union-find replaces 2+ scheduled jobs
    with microseconds — a 1k-node near-dup graph otherwise spends ~all
    its time in Spark scheduling. Pass driver_threshold=0 to force the
    distributed loop (tests pin both paths to identical output)."""
    # LocalRelation fast path (r13): the dedup driver regimes hand this
    # operator a pair list that already lives in the plan as literals —
    # the persist/count/symmetrize machinery below would spend 2-3
    # scheduled jobs re-deriving what one trivial collect reads back.
    # Union-find needs no symmetrized edges (union(a,b) is symmetric).
    if driver_threshold > 0 and regime.is_local_relation(pairs):
        rows = [(r[0], r[1]) for r in pairs.select(id_a, id_b).collect()]
        if len(rows) <= driver_threshold:
            id_type = dict(pairs.dtypes)[id_a]
            return _driver_union_find(rows, id_type, pairs.sparkSession)
    # persist the INPUT pair list before symmetrizing: the union's two
    # branches evaluate their child independently, so an unpersisted
    # upstream (e.g. the whole MinHash-LSH lineage) would run TWICE —
    # measured at 500k docs this was half the operator's 2.2 GB shuffle.
    # The pair list itself is small (corpus dup-rate bounded).
    e = pairs.select(F.col(id_a).alias("src"),
                     F.col(id_b).alias("dst")).transform(_persist)
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(_persist)
    if driver_threshold > 0:
        # this count is the action that materializes the edge cache — the
        # distributed path pays the same materialization in its first
        # checkpoint job, so the branch probe costs no extra pass
        n_edges = edges.count()
        if n_edges <= 2 * driver_threshold:
            id_type = dict(pairs.dtypes)[id_a]
            rows = [(r["src"], r["dst"]) for r in edges.collect()]
            return _driver_union_find(rows, id_type, pairs.sparkSession)
    # fused round 1: initial labels are ids, so min-over-neighbors needs
    # no label translation — one agg + one join against the node set.
    # localCheckpoint (also inside the loop): iterative plans grow a join
    # per round, and Catalyst re-analyzes the WHOLE lineage every round —
    # quadratic planning, then stack/codegen blowup on long chains.
    # Truncating lineage each round is the standard Spark
    # iterative-algorithm discipline; the checkpointed state is (id, lbl)
    # scalars only.
    neigh0 = edges.groupBy(F.col("dst").alias("id")).agg(
        F.min("src").alias("_nl"))
    # the fused round observes its own changed-count too (ADVICE r9): if
    # no node took a smaller label here (possible only for an EMPTY edge
    # set — any edge (a,b), a<b gives b the label a), the fixpoint is
    # already confirmed and max_iter=1 must not raise
    obs0 = Observation()
    new0 = F.least(F.col("id"), F.coalesce("_nl", "id"))
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .join(neigh0, "id", "left")
        .select("id", new0.alias("lbl"), (new0 < F.col("id")).alias("_chg"))
        .observe(obs0, F.count(F.when(F.col("_chg"), F.lit(1))).alias("changed"))
        .select("id", "lbl")
        .localCheckpoint(eager=True)
    )
    converged = int(obs0.get["changed"]) == 0
    for rnd in range(2, max_iter + 1):
        if converged:
            break
        jump = pointer_jump or (pointer_jump is None
                                and rnd > _AUTO_JUMP_AFTER)
        neigh = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("_nl"))
        )
        new_lbl = F.least(F.col("lbl"), F.coalesce("_nl", "lbl"))
        stepped = labels.join(neigh, "id", "left")
        if jump:
            parents = labels.select(F.col("id").alias("lbl"),
                                    F.col("lbl").alias("_pl"))
            stepped = stepped.join(parents, "lbl", "left")
            new_lbl = F.least(new_lbl, F.coalesce("_pl", "lbl"))
        obs = Observation()
        labels = (
            stepped
            .select("id", new_lbl.alias("lbl"),
                    (new_lbl < F.col("lbl")).alias("_chg"))
            .observe(obs, F.count(F.when(F.col("_chg"), F.lit(1))).alias("changed"))
            .select("id", "lbl")
            .localCheckpoint(eager=True)
        )
        if int(obs.get["changed"]) == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_components did not converge within max_iter={max_iter} "
            "rounds; labels are partially propagated — raise max_iter "
            "(rounds needed = component diameter)")
    return labels.select("id", F.col("lbl").alias("component_id"))


def dedup_components_sql(pairs_sql: str, id_a: str = "id_a",
                         id_b: str = "id_b") -> str:
    """DuckDB oracle twin: reachability closure via recursive CTE, then
    min over reached labels — exact fixpoint semantics, any pair source
    (pass a parenthesized subquery, nested WITH allowed)."""
    return f"""
WITH RECURSIVE
_p AS (SELECT {id_a} AS src, {id_b} AS dst FROM {pairs_sql}),
_edges AS (SELECT src, dst FROM _p UNION ALL SELECT dst, src FROM _p),
_nodes AS (SELECT DISTINCT src AS id FROM _edges),
_reach(id, r) AS (
  SELECT id, id FROM _nodes
  UNION
  SELECT e.dst, _reach.r FROM _reach JOIN _edges e ON e.src = _reach.id
)
SELECT id, min(r) AS component_id FROM _reach GROUP BY id
"""


# --- simhash near-dup --------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 16-bit bands: hamming<=3 => >=1 equal band


_SIMHASH_NBITS = SIMHASH_BITS - 4  # 60-bit md5-derived hashes -> bits 0..59


def _simhash_masks() -> Column:
    return F.array(*[F.lit(1 << b).cast("bigint") for b in range(_SIMHASH_NBITS)])


def simhash_from_hashes(hashes: Column) -> Column:
    """64-bit SimHash from a per-token hash array: per-bit majority vote,
    accumulated in ONE pass over the array (a vote-count vector folded by
    `aggregate`, then a majority fold into the fingerprint) — ~1.4x faster
    than 60 separate per-bit filter traversals, identical output. Pass a
    MATERIALIZED column (not an inline transform) so project collapse
    doesn't re-inline the token hashing."""
    masks = _simhash_masks()
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), _SIMHASH_NBITS),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(0)),
            lambda a, x: a + x,
        ),
    )
    total = F.size(hashes)
    return F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v * 2 > total, m).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )


def simhash(tokens: Column) -> Column:
    """64-bit SimHash of a token array: per-bit majority vote over the
    (md5-derived) token hashes. Duplicate tokens vote once per occurrence."""
    return simhash_from_hashes(F.transform(tokens, lambda t: hash64(t)))


def simhash_sql(tokens_expr: str) -> str:
    h = hash64_sql("t")
    terms = []
    for bit in range(SIMHASH_BITS - 4):
        terms.append(
            f"(CASE WHEN 2 * len(list_filter(_h, x -> (x & {1 << bit}) != 0))"
            f" > len(_h) THEN {1 << bit}::BIGINT ELSE 0 END)"
        )
    total = " + ".join(terms)
    return f"(SELECT {total} FROM (SELECT list_transform({tokens_expr}, t -> {h}) AS _h))"


def dedup_simhash(df: DataFrame, id_col: str = "id", text_col: str = "text",
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming) via 16-bit band buckets +
    bit_count(xor) verification: one row per distinct (id_a, simhash_a,
    id_b, simhash_b) sharing >= 1 band, so an id with several rows pairs
    once per distinct fingerprint combination.

    DRIVER regime (r13): below the collect bound, one job collects
    (id, simhash) and the 4-band bucketing + bit_count(xor) verify run
    on the driver — the banding self-join plan costs 7 scheduled jobs at
    gate scale for work that is integer ops over |corpus| scalars."""
    if regime.fits(df, regime.DRIVER_BYTES):
        import numpy as np

        from flouds_vectordb_spark.functions import pyhash
        from flouds_vectordb_spark.functions.local import local_df

        # ONE Arrow fetch of per-token hashes (pandas-UDF md5 — guide
        # §4.2; see _driver_minhash_rows); the 60 per-bit majority votes
        # — 14.5M interpreted lambda evals at gate scale in the Column
        # form — are vectorized bit arithmetic here (same integers:
        # vote = popcount per bit position over the same hash64 values,
        # bit set iff 2*votes > token count)
        rids, all_h, offsets, valid = pyhash.fetch_lists(
            df, [id_col], pyhash.token_hash64_udf()(F.col(text_col)))
        # NULL-text rows (NULL token-hash array) produce a NULL simhash
        # in the distributed plan, whose band_val never equi-joins — drop
        # them here instead of defaulting to fp 0 (r14, ADVICE). Rows
        # with ZERO tokens keep fp 0 legitimately (aggregate([]) = 0).
        if valid is not None:
            rids = [r for r, v in zip(rids, valid) if v]
            keep = np.repeat(valid, np.diff(offsets))
            all_h = all_h[keep]
            offsets = np.concatenate(
                ([0], np.cumsum(np.diff(offsets)[valid])))
        sizes = np.diff(offsets)
        starts = offsets[:-1]
        fps = np.zeros(len(rids), dtype=np.int64)
        if len(all_h):
            for b in range(_SIMHASH_NBITS):
                votes = np.zeros(len(rids), dtype=np.int64)
                nz = sizes > 0
                votes[nz] = np.add.reduceat((all_h >> b) & 1, starts[nz])
                fps |= np.where(votes * 2 > sizes, np.int64(1) << b,
                                np.int64(0))
        # each row's (id, fingerprint) is its bucket label: one output row
        # per distinct (id_a, h_a, id_b, h_b) sharing a band, as the
        # distributed plan and the SQL twin emit; rows of one id never pair
        cand = _bucket_candidates(
            ((rid, sh), (b, (sh >> (16 * b)) & 0xFFFF))
            for rid, sh in zip(rids, fps.tolist())
            for b in range(SIMHASH_BANDS))
        if cand is not None:
            out = sorted(
                (a, b2, h) for (a, ha), (b2, hb) in cand
                if a != b2 and (h := bin(ha ^ hb).count("1")) <= max_hamming)
            idt = dict(df.dtypes)[id_col]
            return local_df(df.sparkSession, out,
                            f"id_a {idt}, id_b {idt}, hamming int")
    # two materialization boundaries: (1) token hashes, so the 60 per-bit
    # votes read one cached array instead of re-hashing 60x; (2) the
    # fingerprints, so the self-join reads them instead of recomputing
    th = F.transform(tokenize(F.col(text_col)), lambda t: hash64(t))
    hashed = _spread(df).select(F.col(id_col).alias("id"), th.alias("_th")) \
        .transform(_persist)
    sdf = hashed.select(
        "id", simhash_from_hashes(F.col("_th")).alias("simhash")
    ).transform(_persist)
    entries = sdf.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF))
                .alias("band_val"),
            )
            for b in range(SIMHASH_BANDS)
        ])).alias("e"),
    ).select("id", "simhash", "e.band_idx", "e.band_val")
    a = entries.select(F.col("id").alias("id_a"), F.col("simhash").alias("h_a"),
                       "band_idx", "band_val")
    b_ = entries.select(F.col("id").alias("id_b"), F.col("simhash").alias("h_b"),
                        "band_idx", "band_val")
    cand = (
        a.join(b_, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_simhash_sql(table_sql: str, id_expr: str = "id", text_expr: str = "text",
                      max_hamming: int = 3) -> str:
    toks = tokenize_sql(text_expr)
    sh = simhash_sql(toks)
    union_entries = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS band_idx, (simhash >> {16 * b}) & 65535 AS band_val "
        f"FROM _sh"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH _sh AS (SELECT {id_expr} AS id, {sh} AS simhash FROM {table_sql}),
_entries AS ({union_entries}),
_cand AS (
  SELECT DISTINCT a.id AS id_a, a.simhash AS h_a, b.id AS id_b, b.simhash AS h_b
  FROM _entries a JOIN _entries b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(h_a, h_b)) AS hamming FROM _cand
WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}
"""


# --- train/test decontamination (r6) -----------------------------------------

def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    test_text_col: str | None = None,
    n: int = 8,
    min_matches: int = 1,
) -> DataFrame:
    """(id, matched_ngrams) for TRAIN documents sharing >= min_matches
    distinct word n-grams with ANY document of the held-out TEST set — the
    standard n-gram decontamination rule LLM training pipelines apply
    before training (the GPT-3/PaLM appendix recipe: flag a train doc when
    a test n-gram appears in it; published n is 8-13 words). Documents
    shorter than n words contribute their whole text as one shingle
    (functions/hashing.shingles), so exact short-document copies are
    still caught.

    HELD-OUT CONTRACT: the test set is an eval suite — thousands of docs,
    broadcast-sized. Its distinct n-gram hashes are fetched ONCE, first,
    on every path (one Arrow job; pyhash.fetch_lists) into a
    sorted int64 array, so its size never enters the regime choice: a
    test set built in memory (spark.createDataFrame, whose size Catalyst
    cannot tell) costs nothing extra. The regime is chosen by the TRAIN
    size alone:
    - train within regime.DRIVER_BYTES: one train-only Arrow fetch of
      (id, distinct gram hashes), then the membership count in numpy;
    - larger: one map-side pass — a pandas UDF closing over the held-out
      array keeps each doc's distinct gram hashes that are in it, docs
      with no hit drop before any exchange, and only contaminated
      (id, hash) scalars reach the groupBy.
    Output is one row per contaminated train id with its distinct
    matched-gram count, exactly decontaminate_sql's count(DISTINCT _gh):
    duplicate train ids merge their gram sets in both regimes."""
    import numpy as np

    from flouds_vectordb_spark.functions import pyhash
    from flouds_vectordb_spark.functions.local import local_df

    mm = max(int(min_matches), 1)  # a train doc with no shared gram never joins
    grams = pyhash.shingle_hash64_udf(n)
    held = np.unique(pyhash.fetch_lists(
        test, [], grams(F.col(test_text_col or text_col)))[0])
    if not regime.fits(train, regime.DRIVER_BYTES):
        return (
            _spread(train)
            .select(F.col(id_col).alias("id"),
                    F.explode(pyhash.shingle_hits_udf(n, held)(
                        F.col(text_col))).alias("_gh"))
            .groupBy("id")
            .agg(F.count_distinct("_gh").alias("matched_ngrams"))
            .filter(F.col("matched_ngrams") >= mm)
        )
    ids, values, offsets, _ = pyhash.fetch_lists(
        train, [id_col], grams(F.col(text_col)))
    # group code per distinct id (first-occurrence order): duplicate ids
    # merge like the distributed groupBy; np.unique over (code, hash)
    # pairs is the count(DISTINCT)
    groups: dict = {}
    codes = np.fromiter((groups.setdefault(r, len(groups)) for r in ids),
                        np.int64, len(ids))
    hit = np.isin(values, held)
    pairs = np.unique(np.stack((np.repeat(codes, np.diff(offsets))[hit],
                                values[hit])), axis=1)
    counts = np.bincount(pairs[0], minlength=len(groups)).tolist()
    out = [(rid, c) for rid, c in zip(groups, counts) if c >= mm]
    return local_df(train.sparkSession, out,
                    f"id {dict(train.dtypes)[id_col]}, matched_ngrams bigint")


def decontaminate_sql(
    train_sql: str,
    test_sql: str,
    id_expr: str = "id",
    text_expr: str = "text",
    test_text_expr: str | None = None,
    n: int = 8,
    min_matches: int = 1,
) -> str:
    """DuckDB oracle twin of decontaminate()."""
    t_text = test_text_expr or text_expr
    tok = lambda e: f"list_filter(string_split_regex(lower({e}), '\\s+'), w -> w <> '')"  # noqa: E731
    tr_g = shingles_sql(tok(text_expr), n=n)
    te_g = shingles_sql(tok(t_text), n=n)
    gh = hash64_sql("_g")
    return f"""
WITH tr AS (
  SELECT id, {gh} AS _gh FROM (
    SELECT {id_expr} AS id, unnest(list_distinct({tr_g})) AS _g FROM {train_sql}
  )
),
te AS (
  SELECT DISTINCT {gh} AS _gh FROM (
    SELECT unnest(list_distinct({te_g})) AS _g FROM {test_sql}
  )
)
SELECT id, count(DISTINCT tr._gh) AS matched_ngrams
FROM tr JOIN te ON tr._gh = te._gh
GROUP BY id HAVING count(DISTINCT tr._gh) >= {int(min_matches)}
"""


def _driver_decon_neardup(train, test, id_col, text_col, t_id, t_text,
                          jaccard_threshold, n_sigs, n_bands, shingle_n):
    """Bipartite (train x test) LSH candidates + exact verify + per-train
    aggregation over two collected scalar tables, keyed by row: every
    row of a candidate (train id, test id) pair is verified against
    every row of the other and each passing row pair counts, as in the
    distributed plan. None -> fall back on a candidate pre-flight
    overflow."""
    from collections import defaultdict

    from flouds_vectordb_spark.functions.local import local_df

    # one Arrow fetch per side: the held-out side is broadcast-sized by
    # contract, so only the train side's size gated this regime
    te_banded, te_sets = _driver_minhash_rows(test, t_id, t_text, n_sigs,
                                              n_bands, shingle_n)
    tr_banded, tr_sets = _driver_minhash_rows(train, id_col, text_col,
                                              n_sigs, n_bands, shingle_n)
    te_buckets: dict = defaultdict(set)
    for rid, bands in te_banded:
        for bi, bh in enumerate(bands):
            te_buckets[(bi, bh)].add(rid)
    # candidate pre-flight: train entries x matching test-bucket sizes
    cand: set = set()
    for rid, bands in tr_banded:
        for bi, bh in enumerate(bands):
            for tid in te_buckets.get((bi, bh), ()):
                cand.add((rid, tid))
                if len(cand) > _MINHASH_DRIVER_MAX_CAND_PAIRS:
                    return None
    agg: dict = {}
    for a, _, j in _verified_pairs(cand, tr_sets, te_sets,
                                   jaccard_threshold):
        mx, n = agg.get(a, (j, 0))
        agg[a] = (max(mx, j), n + 1)
    idt = dict(train.dtypes)[id_col]
    return local_df(train.sparkSession,
                    sorted((a, mx, n) for a, (mx, n) in agg.items()),
                    f"id {idt}, max_jaccard double, n_test_hits bigint")


def decontaminate_neardup(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    test_id_col: str | None = None,
    test_text_col: str | None = None,
    jaccard_threshold: float = 0.8,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """(id, max_jaccard, n_test_hits) for TRAIN documents that are
    NEAR-duplicates (word-shingle Jaccard >= threshold) of ANY held-out
    TEST document — the fuzzy complement of `decontaminate`'s exact
    n-gram rule. Published pipelines apply both: exact n-gram overlap
    catches verbatim quotes; near-dup contamination catches lightly
    edited copies of eval documents that share few exact 8-grams but
    most of their shingles (the Llama/GPT-4 appendix recipe pairs a
    13-gram rule with a high-Jaccard fuzzy rule).

    Same bands/hashes/verify as dedup_minhash, bipartite: candidates are
    (train, test) band-bucket collisions only — never train x train (at
    100 TB that cross-pairing is the entire cost difference). The test
    side is thousands of docs by contract, so its band entries AND its
    shingle sets broadcast; the train side's shingle ARRAYS never ride a
    shuffle (band entries are scalars; the candidate list broadcasts back
    into the train-sets probe, pruning it map-side). The keyed exchanges
    that remain — candidate dropDuplicates and the per-train aggregation
    — carry candidate-scalar rows only (measured 0.2 MB total at 5M
    docs). Result rows are the contaminated train ids — anti-join them
    against the corpus to clean it."""
    t_id = test_id_col or id_col
    t_text = test_text_col or text_col
    # DRIVER regime (r13): the train side under the collect bound -> one
    # Arrow fetch per side + driver bipartite bucketing/verify/aggregation
    # replace the 13 scheduled jobs of the broadcast plan at gate scale.
    # The test side is broadcast-sized by contract (the plan below
    # broadcasts it), so its size does not gate the regime. Same hashes,
    # same verify arithmetic, same (max, count) aggregation.
    if regime.fits(train, regime.DRIVER_BYTES):
        res = _driver_decon_neardup(train, test, id_col, text_col, t_id,
                                    t_text, jaccard_threshold, n_sigs,
                                    n_bands, shingle_n)
        if res is not None:
            return res
    tr_ent, tr_sets = _band_entries(train, id_col, text_col, n_sigs,
                                    n_bands, shingle_n)
    te_ent, te_sets = _band_entries(test, t_id, t_text, n_sigs,
                                    n_bands, shingle_n)
    cand = (
        tr_ent.alias("_tr")
        .join(F.broadcast(te_ent.alias("_te")),
              (F.col("_tr.band_idx") == F.col("_te.band_idx"))
              & (F.col("_tr.band_hash") == F.col("_te.band_hash")))
        .select(F.col("_tr.id").alias("id_a"), F.col("_te.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # broadcast the CANDIDATE list into the train-sets probe (it is
    # bounded by |test| x bucket sizes — small by the test-set contract),
    # not the other way round: joining cand against tr_sets by key plans
    # a sort-merge that shuffles EVERY train shingle set (measured 413 MB
    # at 500k docs); this way the train side is pruned map-side and no
    # shingle array ever rides an exchange. The contract is not enforced
    # by the caller, so COUNT the candidate list first (the persist+count
    # pattern _verify_candidates uses) and fall back to the keyed join
    # when a hot band bucket blows past the broadcast bound — slower,
    # never a driver OOM.
    cand = cand.transform(_persist)
    n_cand = cand.count()
    te_proj = te_sets.select(F.col("id").alias("id_b"),
                             F.col("vset").alias("sh_b"))
    tr_proj = tr_sets.select(F.col("id").alias("id_a"),
                             F.col("vset").alias("sh_a"))
    if n_cand <= _NEARDUP_CAND_BROADCAST_ROWS:
        pairs = (tr_proj.join(F.broadcast(cand), "id_a")
                 .join(F.broadcast(te_proj), "id_b"))
    else:
        warnings.warn(
            f"decontaminate_neardup: {n_cand} candidate pairs exceed the "
            f"broadcast bound ({_NEARDUP_CAND_BROADCAST_ROWS}); falling "
            "back to keyed joins (hot band bucket or oversized test set)")
        pairs = tr_proj.join(cand, "id_a").join(te_proj, "id_b")
    return (
        _jaccard_filtered(pairs, jaccard_threshold)
        .groupBy(F.col("id_a").alias("id"))
        .agg(F.max("jaccard_r").alias("max_jaccard"),
             # one row per verified (train row, test row) pair: the
             # distinct test-hit count when ids are unique per row
             F.count("*").alias("n_test_hits"))
    )


def decontaminate_neardup_sql(
    train_sql: str,
    test_sql: str,
    id_expr: str = "id",
    text_expr: str = "text",
    test_id_expr: str | None = None,
    test_text_expr: str | None = None,
    jaccard_threshold: float = 0.8,
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
    shingle_n: int = SHINGLE_N,
) -> str:
    """DuckDB oracle twin of decontaminate_neardup — same signatures,
    bands, exact-Jaccard verification and per-train aggregation."""
    t_id = test_id_expr or id_expr
    t_text = test_text_expr or text_expr
    tr_side = _band_side_sql(train_sql, "tr", id_expr, text_expr, n_sigs,
                             n_bands, shingle_n)
    te_side = _band_side_sql(test_sql, "te", t_id, t_text, n_sigs,
                             n_bands, shingle_n)
    return f"""
WITH {tr_side},
{te_side},
_cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM _entries_tr a JOIN _entries_te b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
),
_pairs AS (
  SELECT c.id_a, c.id_b,
         round(len(list_intersect(sa.vset, sb.vset))::DOUBLE
               / (len(sa.vset) + len(sb.vset)
                  - len(list_intersect(sa.vset, sb.vset)))::DOUBLE,
               6) AS jaccard_r
  FROM _cand c
  JOIN _vs_tr sa ON c.id_a = sa.id
  JOIN _vs_te sb ON c.id_b = sb.id
)
SELECT id_a AS id, max(jaccard_r) AS max_jaccard,
       count(*) AS n_test_hits
FROM _pairs WHERE jaccard_r >= {float(jaccard_threshold)!r}
GROUP BY id_a
"""


# --- exact substring (span) dedup (r7) ---------------------------------------

def exact_substring_spans(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 50,
    min_occurrences: int = 2,
) -> DataFrame:
    """(id, span_start, span_end, span_tokens): per document, the MAXIMAL
    token spans every k-token window of which occurs >= min_occurrences
    times in the corpus — the Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better") exact-substring rule: cut every
    >= k-token substring that repeats anywhere in the corpus (including
    within one document). Positions are 1-based token indices, spans
    inclusive.

    Spark-first plan (the shuffle-friendly equivalent of the paper's
    suffix array, which is a single-machine construction): a repeated
    substring of length L >= k is exactly a run of L-k+1 consecutive
    duplicated k-gram windows, so
      1. ONE scan tokenizes and emits positioned k-gram hashes — explode
         + hash ride the same projection, so only (id, pos, gh) scalars
         ever shuffle, never text;
      2. duplicated grams are a groupBy(gh) count filter (map-side
         combinable, 60-bit near-unique keys -> no skew);
      3. a scalars-only semi-join keeps the duplicated (id, pos) windows;
      4. consecutive/overlapping windows stitch into maximal spans with a
         per-document window (lag(pos) gap test + running group sum) —
         partitioned by id, so at 100 TB the stitch is embarrassingly
         parallel and each partition holds per-doc position lists only.
    Two overlapping repeats from DIFFERENT sources merge into one span
    (standard behavior — the span is "duplicated text", whatever its
    origins). Documents shorter than k tokens emit no windows: they
    cannot contain a >= k-token substring (document-level dedup is the
    exact-hash/MinHash family's job)."""
    from pyspark.sql import Window

    kk = int(k)
    toks = tokenize(F.col(text_col))
    d = _spread(df).select(F.col(id_col).alias("id"), toks.alias("_toks"))
    n = F.size("_toks")
    pos_seq = F.when(n >= kk, F.sequence(F.lit(1), n - F.lit(kk - 1))) \
        .otherwise(F.array().cast("array<int>"))
    # DRIVER regime (r13): one map-only collect of per-doc positioned
    # window-hash ARRAYS; the global duplicate count and the per-id
    # gap-stitch are integer arithmetic on the driver. Same hashes, same
    # >= min_occurrences rule (global count, within-doc repeats included),
    # same "new span when pos > prev + k" stitch over every row of an id
    # (the distributed window partitions by id, so duplicate-id rows
    # merge their positions).
    if regime.fits(df, regime.DRIVER_BYTES):
        import numpy as np

        from flouds_vectordb_spark.functions import pyhash
        from flouds_vectordb_spark.functions.local import local_df

        # ONE Arrow fetch of positioned window hashes (pandas-UDF md5 —
        # see _driver_minhash_rows); the global >= min_occurrences rule
        # is one np.unique + searchsorted over the flat hash array, and
        # the per-id gap-stitch walks FLAGGED positions only.
        rids, values, offsets, _ = pyhash.fetch_lists(
            df, [id_col], pyhash.window_hash64_udf(kk)(F.col(text_col)))
        mo = int(min_occurrences)
        if len(values):
            uniq, cnt = np.unique(values, return_counts=True)
            flagged = (cnt >= mo)[np.searchsorted(uniq, values)]
        else:
            flagged = np.zeros(0, dtype=bool)
        ends = offsets[1:]
        by_id: dict = {}
        for j, rid in enumerate(rids):
            fpos = np.flatnonzero(flagged[offsets[j]:ends[j]])
            if len(fpos):
                by_id.setdefault(rid, []).append(fpos)
        out = []
        for rid, parts in by_id.items():
            prev = None
            start = None
            for p0 in np.unique(np.concatenate(parts)).tolist():
                pos = p0 + 1
                if prev is None or pos > prev + kk:
                    if start is not None:
                        out.append((rid, start, prev + kk - 1,
                                    prev + kk - start))
                    start = pos
                prev = pos
            out.append((rid, start, prev + kk - 1, prev + kk - start))
        out.sort()
        idt = dict(df.dtypes)[id_col]
        return local_df(df.sparkSession, out,
                        f"id {idt}, span_start int, span_end int, "
                        f"span_tokens int")
    grams = (
        d.select("id", "_toks", F.explode(pos_seq).alias("pos"))
        .select("id", "pos",
                hash64(F.array_join(
                    F.slice(F.col("_toks"), F.col("pos"), kk), " ")).alias("_gh"))
    )
    grams = _persist(grams)  # read twice: dup detection + position join
    dup = (grams.groupBy("_gh").count()
           .filter(F.col("count") >= int(min_occurrences)).select("_gh"))
    hits = grams.join(dup, "_gh", "left_semi").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    lagp = F.lag("pos").over(w)
    newgrp = F.when(lagp.isNull() | (F.col("pos") > lagp + kk), 1).otherwise(0)
    grp = F.sum(newgrp).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        hits.withColumn("_g", grp)
        .groupBy("id", "_g")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + F.lit(kk - 1)).alias("span_end"))
        .select("id", "span_start", "span_end",
                (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"))
    )


def exact_substring_spans_sql(
    table_sql: str,
    id_expr: str = "id",
    text_expr: str = "text",
    k: int = 50,
    min_occurrences: int = 2,
) -> str:
    """DuckDB oracle twin of exact_substring_spans: same positioned gram
    hashes, same duplicate rule, same lag/gap stitch."""
    kk = int(k)
    tok = tokenize_sql(text_expr)
    gh = hash64_sql(f"array_to_string(list_slice(_toks, pos, pos + {kk - 1}), ' ')")
    return f"""
WITH _toksed AS (
  SELECT {id_expr} AS id, {tok} AS _toks FROM {table_sql}
),
_grams AS (
  SELECT id, pos, {gh} AS _gh FROM (
    SELECT id, _toks, unnest(generate_series(1, len(_toks) - {kk - 1})) AS pos
    FROM _toksed WHERE len(_toks) >= {kk}
  )
),
_dup AS (
  SELECT _gh FROM _grams GROUP BY _gh HAVING count(*) >= {int(min_occurrences)}
),
_hits AS (
  SELECT DISTINCT id, pos FROM _grams JOIN _dup USING (_gh)
),
_flagged AS (
  SELECT id, pos,
    CASE WHEN lag(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL
          OR pos > lag(pos) OVER (PARTITION BY id ORDER BY pos) + {kk}
         THEN 1 ELSE 0 END AS _new
  FROM _hits
),
_grouped AS (
  SELECT id, pos,
    sum(_new) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS _g
  FROM _flagged
)
SELECT id, min(pos) AS span_start, max(pos) + {kk - 1} AS span_end,
       max(pos) + {kk - 1} - min(pos) + 1 AS span_tokens
FROM _grouped GROUP BY id, _g
"""


def remove_exact_substrings(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """(id, text_clean, n_tokens_removed): the cut step of Lee et al.'s
    exact-substring dedup — drop every token lying inside one of the
    document's duplicated spans (exact_substring_spans output) and
    re-join the survivors with single spaces (tokenization normalizes
    whitespace, so the surviving text is the token stream, not the raw
    bytes — the standard behavior for token-level span removal).

    Plan: spans collapse to one (id, [struct(s,e)]) row per document
    (bounded: spans are maximal and disjoint, so there are at most
    n_tokens/k of them) and join back; the token filter is a nested
    higher-order expression (no UDF). Documents without spans pass
    through with n_tokens_removed = 0.

    DRIVER regime (r14): when the corpus is under the collect bound AND
    the spans frame is already driver-built literals (the spans driver
    regime's LocalRelation — reading it back runs no job; classic mode
    only, see regime.is_local_relation), one Arrow fetch of (id, text)
    replaces the groupBy-shuffle + join plan (6 scheduled jobs at gate
    scale): tokenization is the pinned py_tokens
    twin, the span cut is integer arithmetic, and ' '.join == array_join.
    Exactness pinned by test_remove_substrings_driver_regime_equals_
    distributed."""
    if (regime.fits(df, regime.DRIVER_BYTES)
            and regime.is_local_relation(spans)):
        from flouds_vectordb_spark.functions.pyhash import py_tokens

        by_id: dict = {}
        for r in spans.select("id", "span_start", "span_end").collect():
            by_id.setdefault(r[0], []).append((r[1], r[2]))
        tbl = df.select(F.col(id_col).alias("id"),
                        F.col(text_col).alias("text")).toArrow()
        out = []
        for rid, txt in zip(tbl.column(0).to_pylist(),
                            tbl.column(1).to_pylist()):
            toks_py = py_tokens(txt)
            if toks_py is None:
                out.append((rid, None, None))
                continue
            sp = by_id.get(rid)
            if not sp:
                out.append((rid, " ".join(toks_py), 0))
                continue
            kept = [t for i, t in enumerate(toks_py, start=1)
                    if not any(s <= i <= e for s, e in sp)]
            out.append((rid, " ".join(kept), len(toks_py) - len(kept)))
        idt = dict(df.dtypes)[id_col]
        schema = f"id {idt}, text_clean string, n_tokens_removed int"
        spark = df.sparkSession
        if not out:
            return spark.createDataFrame([], schema)
        import pandas as pd

        pdf = pd.DataFrame(out, columns=["id", "text_clean",
                                         "n_tokens_removed"])
        # coalesce: the Arrow createDataFrame splits into cores slices;
        # 32 near-empty tasks per downstream stage otherwise
        return spark.createDataFrame(pdf, schema).coalesce(8)
    toks = tokenize(F.col(text_col))
    d = _spread(df).select(F.col(id_col).alias("id"), toks.alias("_toks"))
    sp = spans.groupBy("id").agg(
        F.collect_list(F.struct(F.col("span_start").alias("s"),
                                F.col("span_end").alias("e"))).alias("_spans"))
    joined = d.join(sp, "id", "left")
    in_span = lambda x, i: F.exists(  # noqa: E731 — 1-based token position
        F.col("_spans"), lambda s: (i + 1 >= s["s"]) & (i + 1 <= s["e"]))
    kept = F.when(F.col("_spans").isNull(), F.col("_toks")) \
        .otherwise(F.filter(F.col("_toks"), lambda x, i: ~in_span(x, i)))
    return joined.select(
        "id",
        F.array_join(kept, " ").alias("text_clean"),
        (F.size("_toks") - F.size(kept)).alias("n_tokens_removed"),
    )


def remove_exact_substrings_sql(
    table_sql: str,
    id_expr: str = "id",
    text_expr: str = "text",
    k: int = 50,
    min_occurrences: int = 2,
) -> str:
    """DuckDB twin of remove_exact_substrings composed over the spans twin
    (DuckDB list lambdas are 1-based, matching the span positions
    directly where Spark's 0-based filter index needs i + 1)."""
    spans = exact_substring_spans_sql(table_sql, id_expr, text_expr,
                                      k=k, min_occurrences=min_occurrences)
    tok = tokenize_sql(text_expr)
    return f"""
WITH _docs AS (
  SELECT {id_expr} AS id, {tok} AS _toks FROM {table_sql}
),
_sp AS (
  SELECT id, list(struct_pack(s := span_start, e := span_end)) AS _spans
  FROM ({spans}) GROUP BY id
),
_joined AS (
  SELECT d.id, d._toks,
    CASE WHEN _spans IS NULL THEN d._toks
         ELSE list_filter(d._toks,
              (x, i) -> len(list_filter(_spans,
                   sp -> i >= sp.s AND i <= sp.e)) = 0)
    END AS _kept
  FROM _docs d LEFT JOIN _sp ON d.id = _sp.id
)
SELECT id,
       -- DuckDB: array_to_string on an EMPTY list is NULL; Spark's
       -- array_join is '' — pin the fully-removed-document case to ''
       coalesce(array_to_string(_kept, ' '), '') AS text_clean,
       len(_toks) - len(_kept) AS n_tokens_removed
FROM _joined
"""


def remove_common_lines(
    df: DataFrame,
    min_docs: int = 3,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """(id, text_clean, n_lines_removed): drop every NON-EMPTY line that
    occurs verbatim in >= min_docs DISTINCT documents — the C4/RefinedWeb
    corpus-level boilerplate rule (navigation chrome, cookie banners,
    footers repeat across a site's pages; content lines do not). Blank /
    whitespace-only lines are never removal candidates (they are document
    structure, and "" would trivially cross any threshold). Within-one-
    document repetition alone never triggers removal (count is per
    distinct doc — that case is the repetition FILTERS' job); but once a
    line is flagged corpus-wide, every occurrence of it drops, including
    repeats inside one document.

    Plan (the exact_substring_spans shape, one level up): ONE scan splits
    lines and hashes them in the same projection, so only (id, pos,
    line-hash) scalars ever shuffle — never text; flagged hashes are a
    groupBy(hash) distinct-doc count (60-bit near-unique keys, no skew);
    a scalars-only semi-join finds each document's drop positions, which
    collapse to one bounded int array per affected document and join back
    for a pure-Column line filter. Documents with no flagged lines pass
    through untouched."""
    lines = F.split(F.col(text_col), "\n")
    d = _spread(df).select(F.col(id_col).alias("id"), lines.alias("_lines"))
    exploded = (
        d.select("id", F.posexplode("_lines").alias("pos", "_ln"))
        .filter(F.trim(F.col("_ln")) != "")
        .select("id", "pos", hash64(F.col("_ln")).alias("_lh"))
    )
    exploded = _persist(exploded)  # read twice: flagging + position join
    flagged = (exploded.groupBy("_lh")
               .agg(F.countDistinct("id").alias("_nd"))
               .filter(F.col("_nd") >= int(min_docs)).select("_lh"))
    drops = (
        exploded.join(flagged, "_lh", "left_semi")
        .groupBy("id").agg(F.sort_array(F.collect_list("pos")).alias("_drops"))
    )
    joined = d.join(drops, "id", "left")
    kept = F.when(F.col("_drops").isNull(), F.col("_lines")).otherwise(
        F.filter(F.col("_lines"),
                 lambda x, i: ~F.array_contains(F.col("_drops"), i)))
    return joined.select(
        "id",
        F.array_join(kept, "\n").alias("text_clean"),
        (F.size("_lines") - F.size(kept)).alias("n_lines_removed"),
    )


def remove_common_lines_sql(
    table_sql: str,
    min_docs: int = 3,
    id_expr: str = "id",
    text_expr: str = "text",
) -> str:
    """DuckDB oracle twin of remove_common_lines: same raw-line hashing,
    same distinct-doc threshold, same per-position filter (DuckDB list
    lambdas are 1-based where Spark's posexplode is 0-based — positions
    are engine-internal, only membership matters)."""
    lh = hash64_sql("_ln")
    return f"""
WITH _docs AS (
  SELECT {id_expr} AS id, string_split({text_expr}, chr(10)) AS _lines
  FROM {table_sql}
),
_exp AS (
  SELECT id, pos, {lh} AS _lh FROM (
    SELECT id, unnest(_lines) AS _ln,
           unnest(generate_series(1, len(_lines))) AS pos
    FROM _docs
  ) WHERE trim(_ln) <> ''
),
_flagged AS (
  SELECT _lh FROM _exp GROUP BY _lh HAVING count(DISTINCT id) >= {int(min_docs)}
),
_drops AS (
  SELECT id, list(pos ORDER BY pos) AS _drops
  FROM _exp JOIN _flagged USING (_lh) GROUP BY id
),
_joined AS (
  SELECT d.id, d._lines,
    CASE WHEN _drops IS NULL THEN d._lines
         ELSE list_filter(d._lines, (x, i) -> NOT list_contains(_drops, i))
    END AS _kept
  FROM _docs d LEFT JOIN _drops ON d.id = _drops.id
)
SELECT id,
       coalesce(array_to_string(_kept, chr(10)), '') AS text_clean,
       len(_lines) - len(_kept) AS n_lines_removed
FROM _joined
"""
