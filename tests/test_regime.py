"""regime: the one size probe and bound table behind every regime switch."""

from __future__ import annotations

import os

import flouds_vectordb_spark
from flouds_vectordb_spark import regime
from flouds_vectordb_spark.functions.local import local_df
from flouds_vectordb_spark.operators.sparse_search import bm25_postings


def _parquet(spark, tmp_path, name, rows):
    pq = str(tmp_path / name)
    spark.createDataFrame(rows, "id long, text string").write.parquet(pq)
    return spark.read.parquet(pq)


def test_leaf_sum_of_a_join_is_the_sum_of_its_sides(spark, tmp_path):
    a = _parquet(spark, tmp_path, "a.parquet",
                 [(i, f"doc {i} " * 20) for i in range(200)])
    b = _parquet(spark, tmp_path, "b.parquet",
                 [(i, f"tag {i}") for i in range(0, 400, 2)])
    na, nb = regime.input_bytes(a), regime.input_bytes(b)
    assert na > 0 and nb > 0
    assert regime.input_bytes(a.join(b, "id")) == na + nb
    # a projection keeps the scan's file bytes
    assert regime.input_bytes(a.select("id")) == na
    # each distinct input counts once: a self-join and the posting
    # build (which reads its documents twice) are as large as a
    assert regime.input_bytes(
        a.alias("l").join(a.alias("r"), "id")) == na
    assert regime.input_bytes(bm25_postings(a, chunk_col="text")) == na
    assert regime.input_bytes(
        bm25_postings(a, chunk_col="text").join(b, "id")) == na + nb


def test_streaming_frame_reads_as_large(spark):
    s = spark.readStream.format("rate").load()
    assert regime.input_bytes(s) is None
    assert not regime.fits(s, 1 << 62)
    assert not regime.is_local_relation(s)


def test_frame_without_jdf_reads_as_large_and_not_local():
    class NoJvmPlan:  # a Spark Connect frame has no _jdf
        isStreaming = False

    assert regime.input_bytes(NoJvmPlan()) is None
    assert not regime.fits(NoJvmPlan(), 1 << 62)
    assert not regime.is_local_relation(NoJvmPlan())


def test_local_df_is_local_and_a_parquet_scan_is_not(spark, tmp_path):
    lit = local_df(spark, [(1, "a"), (2, "b")], "id long, text string")
    assert regime.is_local_relation(lit)
    assert regime.fits(lit, regime.DRIVER_BYTES)
    scan = _parquet(spark, tmp_path, "s.parquet", [(1, "a"), (2, "b")])
    assert not regime.is_local_relation(scan)


# what a private size probe reads: Catalyst statistics, a plan's class,
# the files behind a scan, or the unanalyzed plan it walks for them
_PROBE_MARKERS = ("sizeInBytes", 'getSimpleName() == "LocalRelation"',
                  ".inputFiles(", "queryExecution().logical()")


def test_only_regime_reads_plan_sizes_and_classes():
    pkg = os.path.dirname(flouds_vectordb_spark.__file__)
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            if any(m in text for m in _PROBE_MARKERS):
                hits.append(os.path.relpath(path, pkg))
    assert hits == ["regime.py"]
