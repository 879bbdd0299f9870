"""Deterministic release of operator-persisted intermediates.

The near-dup operators (operators/dedup.py) persist() signature/shingle
tables because their plans consume them 2-3 times and Catalyst's project
collapse would otherwise recompute the expensive expressions per consumer
(measured 160 s -> 5 s on MinHash signatures). The returned DataFrames are
lazy, so the operator cannot unpersist for you — and a library API that
quietly poisons the session cache forces callers into the blunt
`spark.catalog.clearCache()`.

`persist_scope()` is the precise alternative: every DataFrame an operator
persists inside the `with` block is tracked and unpersisted on exit,
touching nothing else in the session cache.

    with persist_scope():
        pairs = dedup_minhash(docs).collect()
    # signature/band tables are released here; other cached data survives

Scopes nest (inner scopes own their persists). Outside any scope the
previous contract stands: the caller clears the cache when done (bench.py
and scripts/check_oracle.py do).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

# per-thread scope stack: concurrent driver threads (e.g. parallel query
# submission against one SparkSession) each see only their own scopes, so
# one thread's scope exit can never unpersist frames another thread is
# still consuming
_SCOPES = threading.local()


def _stack() -> list[list[DataFrame]]:
    try:
        return _SCOPES.stack
    except AttributeError:
        _SCOPES.stack = []
        return _SCOPES.stack


# monotonically increasing count of tracked_persist calls — lets callers
# (queries._memoized) detect that a plan they just built embeds persist
# nodes. Such plans must not be reused across clearCache() boundaries: an
# InMemoryRelation unpersisted by clearCache re-computes per consumer on
# the reused object (measured r11: dedup_near_minhash_lsh 1.8 s fresh vs
# 5.4 s reused — the 3-consumer signature table recomputed three times).
_PERSIST_COUNT = [0]


def persist_epoch() -> int:
    return _PERSIST_COUNT[0]


# plan-cache veto (r13): some operators now compute their CANDIDATE SET
# driver-side with zero Spark jobs (the HNSW driver beam) and embed the
# result as a LocalRelation in the returned plan. Re-collecting such a
# cached plan would NOT re-run the search — that is result caching, which
# the bench contract forbids. Operators call veto_plan_cache() while
# building such a frame; queries._memoized treats a veto like a persist:
# the build is never cached, so every bench pass re-runs the live search.
_VETO_COUNT = [0]


def veto_plan_cache() -> None:
    _VETO_COUNT[0] += 1


def veto_epoch() -> int:
    return _VETO_COUNT[0]


def tracked_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() that registers with the innermost active persist_scope
    on THIS thread (no-op registration when no scope is active).
    storage_level forwards to DataFrame.persist when given (the auto-id
    layout pin wants explicit MEMORY_AND_DISK)."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _PERSIST_COUNT[0] += 1
    stack = _stack()
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def persist_scope() -> Iterator[list[DataFrame]]:
    """Unpersist every operator-persisted DataFrame created in the block.

    Yields the tracking list (mostly for tests/diagnostics). Unpersist is
    non-blocking; Spark drops the storage asynchronously."""
    tracked: list[DataFrame] = []
    stack = _stack()
    stack.append(tracked)
    try:
        yield tracked
    finally:
        stack.pop()
        for df in tracked:
            df.unpersist()


@contextmanager
def no_aqe(spark) -> Iterator[None]:
    """Disable AQE for one bounded driver-regime action (r14). The driver
    regimes' fetch/argmax queries are fixed tiny two-stage plans (a small
    repartition or aggregation feeding one collect) that AQE cannot
    improve — nothing to coalesce or skew-split — but AQE materializes
    each shuffle stage as its OWN job, a pure scheduling barrier worth
    ~0.1-0.2 s per action at gate scale (measured 2 jobs -> 1 on the
    minhash fetch). Always scoped: the callers sit behind the <= 16 MB
    input guards, so every at-scale plan keeps AQE. A key that was unset
    before is unset again after, not pinned to its default. The conf is
    session-wide: the regimes assume no other thread plans on the session
    during the action."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
