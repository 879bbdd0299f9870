"""Size probes and bounds for every operator's regime switch.

Many operators pick between a driver or single-partition / broadcast
"small" regime and a distributed one from a guess at their input size.
This is the only module that reads Catalyst statistics or plan classes
for that guess, so every switch means the same thing.

The guess is the sum of the optimized plan's LEAF sizes (file bytes for
parquet scans, cached bytes for a materialized cache, literal bytes for
a LocalRelation), not the root estimate: a join root multiplies its
children's sizes (the collection docs ⋈ embeddings plan estimates 626 GB
for ~20 MB of files; r10 measured '76 PB' on the exploded tf plan), so a
root guard picks the distributed regime for any joined input however
small. A projection does not shrink the leaf sum, so it errs large.
Each distinct input counts once: a leaf that `sameResult`s an earlier
one (a self-join, or bm25_postings' second read of its documents) adds
nothing, so a plan that reads one file twice is not twice as large.

Every probe answers "large" for a streaming frame, for a frame without a
JVM plan (Spark Connect) and on any error: the distributed regimes are
correct on every input, the others are shortcuts. So the driver fast
paths are classic-mode only.

Tests force a regime by monkeypatching a bound or a function here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# driver regimes (dedup family, decontaminations, substring spans, BPE,
# DSIR): below this the whole operator runs off ONE fetch of bounded
# scalars (pyhash.fetch_lists for every hashing operator), keyed by row
# with the id as a label, so duplicate ids stay in this regime; the
# dedup family leaves it only on its candidate-pair pre-flight. The
# distributed plans pay 9-31 scheduled jobs at gate scale (5k docs ≈
# 0.6 MB), ~100% scheduling; 16 MB is the same collect bound as the
# frontier/sample collects in dedup. Above it the working set (candidate
# pairs, distinct words, per-doc buckets) is what scales, and the
# distributed plans run: for dedup_minhash that is the shuffle regime
# from here up (its 16-48 MB broadcast regime was deleted; PLANS.md,
# "Regimes per operator", has the measurement).
DRIVER_BYTES = 16 << 20

# single-partition / broadcast "small" regimes (drop_ratio_build,
# bm25_tf, the sparse block repartition, pack_sequences, unigram_logprob,
# perplexity_buckets, late-interaction paths, ngram pre-flight): 64 MB of
# source text is a few M posting rows — comfortably one task's sort, and
# a whole vocabulary in one broadcast row. The sparse block's max-score
# floor prune engages above it (the same probe as its repartition).
SMALL_BYTES = 64 << 20


def input_bytes(df: DataFrame) -> int | None:
    """Sum of the optimized plan's distinct leaf sizes, or None (= large)
    for a streaming frame, a frame without _jdf (Spark Connect) or on any
    error."""
    try:
        if df.isStreaming:
            return None
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        distinct = []
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if not any(leaf.sameResult(d) for d in distinct):
                distinct.append(leaf)
        return sum(int(d.stats().sizeInBytes()) for d in distinct)
    except Exception:
        return None


def fits(df: DataFrame, bound: int) -> bool:
    """True when df's input_bytes is known and at most bound."""
    n = input_bytes(df)
    return n is not None and n <= bound


def is_local_relation(df: DataFrame) -> bool:
    """True when df's optimized plan is one LocalRelation (driver-built
    literals: reading it back runs no job). Classic mode only: a Spark
    Connect frame has no _jdf and reads False, so its callers take the
    general plan, which is correct either way."""
    try:
        return (df._jdf.queryExecution().optimizedPlan()
                .getClass().getSimpleName() == "LocalRelation")
    except Exception:
        return False
