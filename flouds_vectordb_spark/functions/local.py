"""Driver-side literal tables as LocalRelations (r8).

`spark.createDataFrame(rows, schema)` in PySpark always routes tiny
driver-side literals through an RDD of `defaultParallelism` partitions
(`applySchemaToPythonRDD`), so every action that broadcasts such a block —
a beam frontier, a query block, a (qid, term) batch — pays a
32-empty-task materialization stage on local[32]. A SQL `VALUES` table is
a LocalRelation: it broadcasts with NO task stage at all. Measured on the
HNSW beam's per-round action: 0.37 s -> 0.10 s (same plan otherwise).

On a real cluster the same holds: LocalRelation rows ship inside the plan
and skip the scheduler entirely; the RDD route schedules real tasks.

`local_df` renders rows by schema with exact round-trips:
- integers verbatim; doubles via repr() + 'D' (Java Double.parseDouble is
  correctly rounded, repr is shortest-round-trip, so the bits survive);
- strings with '' quote escaping and backslash doubling;
- array<double>/array<bigint>... as array(...) literals;
- None as typed NULLs.
Falls back to createDataFrame for empty row sets (VALUES cannot be empty)
and for schemas it does not know how to render.

`json_df` is a driver-side literal for numeric blocks (the query blocks
of batch_search.query_block: qid, a 64-double vector, its norm), chosen
for parse cost, not for a missing task stage: the rows travel as ONE
JSON string literal read by `inline(from_json(...))`, which the
optimizer folds into a single constant array over a one-row relation.
Spark's parser pays per token of SQL text — a 256 x 64 VALUES block took
2.2 s to parse, its JSON form under 0.1 s — while the JSON number parser
reads Python's shortest repr back to the same bits, NaN, +-Infinity,
-0.0 and subnormals included (tests/test_local_df.py). It is NOT a
LocalRelation: the optimized plan is a Generate over that one-row
relation, so `regime.is_local_relation` reads False and reading it back
runs one job (a 200-row and a 5,000-row block each ran 1 job on
collect; the same rows through `local_df` ran 0). Empty blocks fall back
to createDataFrame as above.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

_INT_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long"}


def _parse_schema(schema: str) -> list[tuple[str, str]]:
    cols = []
    depth = 0
    cur = ""
    for ch in schema:
        if ch == "," and depth == 0:
            cols.append(cur.strip())
            cur = ""
            continue
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        cur += ch
    if cur.strip():
        cols.append(cur.strip())
    out = []
    for c in cols:
        name, typ = c.split(None, 1)
        out.append((name, typ.strip().lower()))
    return out


def _render(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ in _INT_TYPES:
        return str(int(v))
    if typ in ("double", "float"):
        r = repr(float(v))
        if r in ("inf", "-inf", "nan"):
            return f"CAST('{r.replace('inf', 'Infinity')}' AS {typ})"
        return r + ("D" if typ == "double" else "F")
    if typ == "boolean":
        return "TRUE" if v else "FALSE"
    if typ == "string":
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if typ.startswith("array<") and typ.endswith(">"):
        inner = typ[6:-1]
        return "array(" + ", ".join(_render(x, inner) for x in v) + ")"
    raise ValueError(f"local_df cannot render type {typ!r}")


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A literal table as a LocalRelation (SQL VALUES) with the exact
    column names and types of `schema` (a DDL string like
    "qid bigint, term string"). Use for small driver-side blocks that
    feed broadcast joins; see module docstring for why not
    createDataFrame."""
    rows = list(rows)
    cols = _parse_schema(schema)
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        vals = ", ".join(
            "(" + ", ".join(_render(v, t) for v, (_, t) in zip(r, cols)) + ")"
            for r in rows)
    except ValueError:
        return spark.createDataFrame(rows, schema)
    names = ", ".join(n for n, _ in cols)
    proj = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    return spark.sql(f"SELECT {proj} FROM (VALUES {vals}) AS _lr({names})")


def _jsonable(v, typ: str):
    if v is None:
        return None
    if typ in _INT_TYPES:
        return int(v)
    if typ in ("double", "float"):
        return float(v)
    if typ.startswith("array<") and typ.endswith(">"):
        return [_jsonable(x, typ[6:-1]) for x in v]
    raise ValueError(f"json_df cannot render type {typ!r}")


def json_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A numeric literal table (integer, double and array columns) sent as
    one JSON string literal; the same exact round-trips as local_df, but
    a Generate plan whose read-back runs one job (see module docstring
    for why not VALUES text)."""
    rows = list(rows)
    cols = _parse_schema(schema)
    if not rows:
        return spark.createDataFrame([], schema)
    js = json.dumps([{n: _jsonable(v, t) for v, (n, t) in zip(r, cols)} for r in rows])
    struct = ",".join(f"{n}:{t}" for n, t in cols)
    return spark.sql(
        f"SELECT inline(from_json({_render(js, 'string')}, 'array<struct<{struct}>>'))")
