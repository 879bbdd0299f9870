"""Reference implementations that only tests use: the slower or
Catalyst-only formulations production code was measured against and
replaced, kept to pin the production paths bit for bit."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flouds_vectordb_spark import queries as Q
from flouds_vectordb_spark.functions.langid import (
    DOC_TOP,
    MAX_PENALTY,
    PROFILES,
    _char_ngrams,
    _lower_simple,
)

# --- langid: the plain-Python Cavnar-Trenkle scorer -------------------------

# gram -> list[(lang, lrank)] inverted profile index, built lazily ONCE
# from the literal PROFILES
_PROFILE_INDEX: dict[str, list[tuple[str, int]]] | None = None


def profile_index() -> dict[str, list[tuple[str, int]]]:
    global _PROFILE_INDEX
    if _PROFILE_INDEX is None:
        idx: dict[str, list[tuple[str, int]]] = {}
        for lang, gram, lrank in PROFILES:
            idx.setdefault(gram, []).append((lang, lrank))
        _PROFILE_INDEX = idx
    return _PROFILE_INDEX


def classify_text_ref(t: str | None) -> tuple[str, int]:
    """(lang, distance) for one document — the complete Cavnar–Trenkle
    scoring in plain Python. The REFERENCE implementation: classify_text
    (the vectorized production path) is pinned to it by
    test_classify_vectorized_equals_reference.

    Exact-parity math with lang_id_sql: rank the doc's grams by
    (count desc, gram asc) — Python str comparison is by code point,
    which equals both UTF8String's byte-wise UTF-8 order and DuckDB's
    binary collation, so ties break identically — then
    dist(L) = sum over matched grams of min(|dr - lrank|, MAX_PENALTY)
            + (dn - nm(L)) * MAX_PENALTY, all-integer.
    Equivalently (used here): start every candidate language at
    dn * MAX_PENALTY and subtract (MAX_PENALTY - pen) per matched gram —
    identical integers, but only languages with >= 1 match are ever
    touched, so the loop is O(top grams x langs-per-gram)."""
    if t is None:
        return ("und", -1)
    c = Counter(_char_ngrams(_lower_simple(t)))
    ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:DOC_TOP]
    dn = len(ranked)
    idx = profile_index()
    base = dn * MAX_PENALTY
    scores: dict[str, int] = {}
    for dr, (gram, _cnt) in enumerate(ranked, start=1):
        for lang, lrank in idx.get(gram, ()):
            pen = abs(dr - lrank)
            if pen > MAX_PENALTY:
                pen = MAX_PENALTY
            scores[lang] = scores.get(lang, base) - (MAX_PENALTY - pen)
    if not scores:
        return ("und", -1)
    lang = min(scores, key=lambda L: (scores[L], L))
    return (lang, scores[lang])


# --- dedup: the AllPairs prefix filter (measured out of dedup_minhash) -----

def prefix_probe(sets: DataFrame, threshold: float) -> DataFrame:
    """(id, _sz, _pref): per-doc scalar size + the AllPairs prefix of the
    doc's shingle set under the GLOBAL canonical order (ascending
    hash64). J >= θ forces overlap >= ceil(θ·|x|) on EACH side (J <=
    min/max gives min >= θ·max, so o >= θ/(1+θ)(|A|+|B|) >= θ·max >=
    θ·|x|), hence the intersection must reach into the first
    |x| - ceil(θ·|x|) + 1 canonical elements of BOTH sides — disjoint
    prefixes prove J < θ (Bayardo/Ma/Srikant WWW'07; same bound
    dedup_ngram_jaccard's inverted index uses). Hash collisions can only
    ADD apparent overlap, so they pass extra pairs, never drop true
    ones. Prefix entries are 8-byte longs vs ~25-byte shingle strings —
    the probe ships ~(1-θ)·|set| longs per side, far below the full
    string arrays the verify join ships for survivors."""
    th = float(threshold)
    plen = (F.size("vset")
            - F.ceil(F.lit(th) * F.size("vset")) + F.lit(1)).cast("int")
    return sets.select("id", F.size("vset").alias("_sz"),
                       F.slice("vset", 1, plen).alias("_pref"))


def prefix_filtered(cand: DataFrame, probe: DataFrame,
                     threshold: float) -> DataFrame:
    """Length + prefix filter over a candidate list in ONE probe join per
    side (r12, VERDICT ask #3 — the r11 length-only filter was exact but
    shuffle-neutral on clone corpora: perturbed copies share lengths, so
    the ratio test passed ~every pair; the prefix test prunes at equal
    lengths too). Exact: both tests drop only provably-failing pairs."""
    th = float(threshold)
    j = (cand
         .join(probe.select(F.col("id").alias("id_a"),
                            F.col("_sz").alias("_sza"),
                            F.col("_pref").alias("_pra")), "id_a")
         .join(probe.select(F.col("id").alias("id_b"),
                            F.col("_sz").alias("_szb"),
                            F.col("_pref").alias("_prb")), "id_b"))
    keep = ((F.col("_sza").cast("double")
             >= F.lit(th) * F.col("_szb").cast("double"))
            & (F.col("_szb").cast("double")
               >= F.lit(th) * F.col("_sza").cast("double"))
            & F.arrays_overlap("_pra", "_prb"))
    return j.filter(keep).drop("_sza", "_szb", "_pra", "_prb")


def ngram_pairs_ref(ids: list, sets: list[list[int]],
                    t: float) -> list[tuple]:
    """Plain-loop dedup_ngram_jaccard over rows (id, sorted distinct
    hash list), written from the distributed plan: a candidate is an id
    pair a < b with a prefix collision between some row of each passing
    the size-ratio and positional filters; then every row of a x every
    row of b is verified (0/0 drops) and each passing row pair is one
    output row."""
    import math

    from flouds_vectordb_spark.operators.dedup import _round6

    rows = list(zip(ids, sets))
    cand = set()
    for a, sa in rows:
        for b, sb in rows:
            if not a < b:
                continue
            na, nb = len(sa), len(sb)
            for p, h in enumerate(sa[:na - math.ceil(t * na) + 1]):
                for q, g in enumerate(sb[:nb - math.ceil(t * nb) + 1]):
                    if (h == g and float(min(na, nb)) >= t * float(max(na, nb))
                            and float(1 + min(na - p - 1, nb - q - 1))
                            >= (t / (1.0 + t)) * float(na + nb) - 1e-9):
                        cand.add((a, b))
    out = []
    for a, b in cand:
        for x, sa in rows:
            for y, sb in rows:
                if (x, y) != (a, b):
                    continue
                inter = float(len(set(sa) & set(sb)))
                union = float(len(sa) + len(sb)) - inter
                if union and _round6(inter / union) >= t:
                    out.append((a, b, _round6(inter / union)))
    return sorted(out)


# --- queries: the Catalyst late-interaction clone fixture ------------------

def li_clustered_tokens_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The original Catalyst formulation of queries._li_clustered_tokens, kept
    as the parity oracle for the driver-side clone construction."""
    base = Q._li_doc_tokens(spark, sf_dir)
    src = base.filter(F.col("doc_id").isin(3, 7))
    reps = spark.range(10).select(F.col("id").alias("_i"))
    i, pos = F.col("_i"), F.col("pos")

    def elem(j):
        pert = ((i * 31 + pos * 17 + j * 13) % 101 - 50).cast("double") \
            / F.lit(5000.0)
        return F.element_at(F.col("vector"), (j + F.lit(1)).cast("int")) + pert

    injected = (
        src.crossJoin(F.broadcast(reps))
        .select((F.lit(9_000_000) + F.col("doc_id") * 100 + i).alias("doc_id"),
                "pos",
                F.transform(F.sequence(F.lit(0), F.lit(63)), elem)
                .alias("vector"))
    )
    return base.unionByName(injected)
