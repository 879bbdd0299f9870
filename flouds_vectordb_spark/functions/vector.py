"""Vector distance/similarity: Column expressions, SQL texts and numpy folds.

These mirror the metrics the reference forwards to Milvus
(reference: app/milvus/vector_store.py:445-517, metric_type ∈
{COSINE, L2, IP} per app/models/search_request.py:202-220), computed
Spark-side. A score against one constant query is a higher-order
function fold (`aggregate(zip_with(...))`); Spark runs those
interpreted (ArrayAggregate and ZipWith are CodegenFallback). Query
blocks, where every (document, query) pair of a scan is scored, go
through ``fold_scores``: the same folds in numpy inside one mapInArrow
kernel (operators/batch_search.py).

Determinism contract (oracle parity): every score is a float64 sequential
left-fold over the element-wise products, exactly what DuckDB's
``list_sum(list_transform(...))`` computes, so both engines produce
bit-identical doubles. Each builder has a ``*_sql`` twin that renders the
equivalent DuckDB expression for the correctness oracle; ``fold_scores``
runs the same element-wise operations in the same order (no reduction,
no BLAS), so its doubles are the Column builders' bits too.

Scale notes: for a constant query vector the query norm is precomputed
driver-side (one scalar literal, not a per-row 64-element fold), and
zero-norm documents score NULL in BOTH engines (nullif guard) instead of
diverging (Spark non-ANSI div-by-zero -> NULL vs DuckDB IEEE -> inf).

Request-path scores (metric_score_q, batch_search._pair_score) are built
from the ``*_expr`` Spark SQL texts below and sent as ONE ``F.expr``: the
same folds as the Column builders, but a 64-dim query costs one py4j call
instead of ~500 (64 ``F.lit``s plus three Python lambdas). Query doubles
are rendered by ``local._render`` (shortest repr + ``D``), so the literals
are bit-exact.
"""

from __future__ import annotations

import math
import re

import numpy as np
from py4j.protocol import Py4JError
from pyspark.sql import Column
from pyspark.sql import functions as F

from flouds_vectordb_spark.functions.local import _render


def _fold_sum(products: Column) -> Column:
    # Sequential left fold => deterministic summation order.
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def dot_score(a: Column, b: Column) -> Column:
    """Inner product (metric IP). float64 sequential fold."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def l2_score(a: Column, b: Column) -> Column:
    """Negative SQUARED euclidean distance. Milvus's L2 metric returns the
    squared distance (no sqrt) with smaller-is-better; negating it makes
    sort-DESC nearest-first so one ranking convention serves every metric,
    while staying in the reference's distance UNIT so radius/range_filter/
    score_threshold values calibrated against Milvus carry over as bounds
    on -score (documented divergence: sign only, never the unit)."""
    return -_fold_sum(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
    )


def norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine_score(a: Column, b: Column) -> Column:
    """Column-vs-column cosine; zero-norm on either side -> NULL via
    try_divide (single evaluation of the norm fold — nullif would duplicate
    the operand expression into its equality branch; ANSI plain division
    would throw). The DuckDB twin uses nullif because DuckDB follows IEEE
    (/0 -> inf)."""
    return F.try_divide(dot_score(a, b), norm(a) * norm(b))


def normalize(a: Column) -> Column:
    """L2-normalize a vector column (cosine == dot over normalized vectors)."""
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def query_norm(q: list[float]) -> float:
    """Driver-side L2 norm with the SAME sequential float64 fold both engines
    use, so the spliced literal is bit-identical to what they would compute."""
    acc = 0.0
    for x in q:
        acc += float(x) * float(x)
    return math.sqrt(acc)


# --- numpy folds over a block (batch_search's mapInArrow kernel) -----------

def fold_norms(x: np.ndarray) -> np.ndarray:
    """Per-row L2 norms of an (n, dim) float64 matrix, each the
    sequential fold of `norm`."""
    acc = np.zeros(x.shape[0])
    with np.errstate(all="ignore"):
        for j in range(x.shape[1]):
            acc += x[:, j] * x[:, j]
        return np.sqrt(acc)


def fold_scores(metric: str, x: np.ndarray, q: np.ndarray, qn: np.ndarray,
                dn: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(scores, keep) of every document row of x (n, dim) against every
    query row of q (c, dim), both float64. scores[i, k] is score_expr's
    fold for the pair, element by element from 0.0, so the doubles are
    bit-identical. keep is False where score_expr is NULL: a COSINE
    pair whose denominator dn * qn is zero (dn: fold_norms(x); qn: the
    query norms)."""
    m = metric.upper()
    acc = np.zeros((x.shape[0], q.shape[0]))
    term = np.empty_like(acc)
    with np.errstate(all="ignore"):
        for j in range(x.shape[1]):
            if m == "L2":
                np.subtract(x[:, j, None], q[:, j], out=term)
                term *= term
            else:
                np.multiply(x[:, j, None], q[:, j], out=term)
            acc += term
        if m == "IP":
            return acc, np.ones(acc.shape, dtype=bool)
        if m == "L2":
            return -acc, np.ones(acc.shape, dtype=bool)
        den = dn[:, None] * qn[None, :]
        return acc / den, den != 0


# --- Spark SQL texts of the same folds (one F.expr per score) ---------------

def _fold_expr(products: str) -> str:
    return f"aggregate({products}, 0.0D, (_acc, _x) -> _acc + _x)"


def dot_expr(a: str, b: str) -> str:
    """Spark SQL text of dot_score."""
    return _fold_expr(
        f"zip_with({a}, {b}, (_x, _y) -> CAST(_x AS DOUBLE) * CAST(_y AS DOUBLE))")


def l2_expr(a: str, b: str) -> str:
    """Spark SQL text of l2_score."""
    return "(-" + _fold_expr(
        f"zip_with({a}, {b}, (_x, _y) -> (CAST(_x AS DOUBLE) - CAST(_y AS DOUBLE))"
        " * (CAST(_x AS DOUBLE) - CAST(_y AS DOUBLE)))") + ")"


def norm_expr(a: str) -> str:
    """Spark SQL text of norm."""
    return f"sqrt({_fold_expr(f'transform({a}, _x -> CAST(_x AS DOUBLE) * CAST(_x AS DOUBLE))')})"


def score_expr(metric: str, vec: str, q: str, qn: str) -> str:
    """Spark SQL text of a larger-is-better score of `vec` against `q`.
    qn is the query norm. try_divide: /0 -> NULL, as cosine_score."""
    m = metric.upper()
    if m == "IP":
        return dot_expr(vec, q)
    if m == "L2":
        return l2_expr(vec, q)
    if m == "COSINE":
        return f"try_divide({dot_expr(vec, q)}, {norm_expr(vec)} * {qn})"
    raise ValueError(f"unsupported metric {metric!r} (expected COSINE, L2, IP)")


_NAME_PATH = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


def column_ref(vec: Column | str) -> str | None:
    """SQL text naming the column `vec` refers to — a column name (read
    the way F.col reads it) or an F.col Column — or None for a computed
    Column (and on Spark Connect), whose SQL text cannot be recovered."""
    if not isinstance(vec, str):
        try:
            if vec._jc.node().getClass().getSimpleName() != "UnresolvedAttribute":
                return None
            vec = vec._jc.toString()
        except (AttributeError, Py4JError):  # no JVM column: Column path
            return None
    if _NAME_PATH.fullmatch(vec):
        return ".".join(f"`{part}`" for part in vec.split("."))
    if "." not in vec and "`" not in vec:
        return f"`{vec}`"
    return None


def metric_score_q(metric: str, vec: Column | str, q: list[float]) -> Column:
    """Score column against a constant query vector, larger-is-better for all
    metrics. COSINE precomputes the query norm driver-side (one literal).
    `vec` is a column name or Column; a plain column reference is scored
    by one SQL-text expression, a computed vector by the Column builders
    (same folds, same bits)."""
    if metric.upper() not in ("COSINE", "L2", "IP"):
        raise ValueError(f"unsupported metric {metric!r} (expected COSINE, L2, IP)")
    qa = _render([float(x) for x in q], "array<double>")
    qn = _render(query_norm(q), "double")
    ref = column_ref(vec)
    if ref is not None:
        return F.expr(score_expr(metric, ref, qa, qn))
    vec, qcol = (F.col(vec) if isinstance(vec, str) else vec), F.expr(qa)
    m = metric.upper()
    if m == "IP":
        return dot_score(vec, qcol)
    if m == "L2":
        return l2_score(vec, qcol)
    return F.try_divide(dot_score(vec, qcol), norm(vec) * F.expr(qn))


# --- DuckDB oracle twins -----------------------------------------------------

def query_sql_literal(q: list[float]) -> str:
    """Parenthesized DOUBLE[] literal — the parens are load-bearing: without
    them `[...]::DOUBLE[][i]` parses as a nested array TYPE, not an index."""
    return "([" + ",".join(repr(float(x)) for x in q) + "]::DOUBLE[])"


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    )


def l2_sql(a: str, b: str) -> str:
    # negative SQUARED distance — the Milvus L2 unit, negated (see l2_score)
    return (
        f"(-list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))))"
    )


def norm_sql(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / nullif({norm_sql(a)} * {norm_sql(b)}, 0))"


def metric_sql_q(metric: str, vec_expr: str, q: list[float]) -> str:
    """DuckDB twin of metric_score_q (query vector spliced as a literal).

    Wrapped in a length guard: Spark's zip_with NULL-pads a wrong-length
    vector so the fold (and the score) is NULL and the row drops; DuckDB's
    list_sum SKIPS NULLs, which would silently score a ragged vector from
    its prefix — the twins must disagree on nothing, including bad data."""
    m = metric.upper()
    qe = query_sql_literal(q)
    if m == "IP":
        score = dot_sql(vec_expr, qe)
    elif m == "L2":
        score = l2_sql(vec_expr, qe)
    elif m == "COSINE":
        qn = query_norm(q)
        score = f"({dot_sql(vec_expr, qe)} / nullif({norm_sql(vec_expr)} * ({qn!r}::DOUBLE), 0))"
    else:
        raise ValueError(f"unsupported metric {metric!r}")
    return f"(CASE WHEN len({vec_expr}) = {len(q)} THEN {score} ELSE NULL END)"


def metric_score(metric: str, a: Column, b: Column) -> Column:
    """Column-vs-column score for a metric name, larger-is-better."""
    m = metric.upper()
    if m == "COSINE":
        return cosine_score(a, b)
    if m == "IP":
        return dot_score(a, b)
    if m == "L2":
        return l2_score(a, b)
    raise ValueError(f"unsupported metric {metric!r} (expected COSINE, L2, IP)")
