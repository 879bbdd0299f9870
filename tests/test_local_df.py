"""local_df renders literal rows as a SQL VALUES LocalRelation with exact
round-trips and a createDataFrame fallback; the plan must contain NO scan
stage (the whole point: zero scheduled tasks for a tiny broadcast block)."""

from __future__ import annotations

import math

from flouds_vectordb_spark.functions.local import local_df


def test_round_trips_ints_doubles_strings_nulls(spark):
    rows = [
        (1, 0.1 + 0.2, "plain"),
        (-(2 ** 62), 1e-308, "qu'ote ''double"),
        (0, float("-0.0"), "back\\slash"),
        (7, None, None),
    ]
    df = local_df(spark, rows, "a bigint, b double, c string")
    got = [(r["a"], r["b"], r["c"]) for r in df.collect()]
    for (a0, b0, c0), (a1, b1, c1) in zip(rows, got):
        assert a0 == a1 and c0 == c1
        if b0 is None:
            assert b1 is None
        else:
            # bit-exact: repr round-trip through Double.parseDouble
            assert math.copysign(1, b0) == math.copysign(1, b1)
            assert b0 == b1


def test_array_columns(spark):
    rows = [(1, [0.5, -1.25, 3.0]), (2, []), (3, None)]
    df = local_df(spark, rows, "id bigint, v array<double>")
    got = {r["id"]: r["v"] for r in df.collect()}
    assert got[1] == [0.5, -1.25, 3.0]
    assert got[2] == []
    assert got[3] is None


def test_empty_rows_fall_back(spark):
    df = local_df(spark, [], "id bigint, v array<double>")
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<id:bigint,v:array<double>>"


def test_plan_is_a_local_relation(spark):
    df = local_df(spark, [(1, 2.0)], "a bigint, b double")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan


def test_json_df_round_trips_special_doubles_exactly(spark):
    """The JSON query-block literal keeps every double's bits: NaN,
    +-Infinity, -0.0, subnormals, the extremes and repr-hard values."""
    import struct

    from flouds_vectordb_spark.functions.local import json_df

    special = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 5e-324,
               -5e-324, 2.2250738585072009e-308, 2.2250738585072014e-308,
               1.7976931348623157e308, 0.1 + 0.2, 1 / 3, -1e-310]
    rows = [(i, special[i:] + special[:i], special[i], [i, i + 1])
            for i in range(len(special))] + [(99, [], None, None)]
    df = json_df(spark, rows, "qid bigint, _qv array<double>, _qn double, "
                              "_cells array<int>")
    assert df.schema.simpleString() == (
        "struct<qid:bigint,_qv:array<double>,_qn:double,_cells:array<int>>")

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    got = {r["qid"]: r for r in df.collect()}
    assert len(got) == len(rows)
    for qid, qv, qn, cells in rows:
        r = got[qid]
        assert [bits(x) for x in r["_qv"]] == [bits(x) for x in qv]
        assert bits(r["_qn"]) == bits(qn)
        assert r["_cells"] == cells
    empty = json_df(spark, [], "qid bigint, _qv array<double>")
    assert empty.count() == 0
