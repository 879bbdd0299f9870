"""Catalog DDL (S1/S2/S5/S6) + upsert/flush (S3/S4/I2/I3) end-to-end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flouds_vectordb_spark.catalog import Catalog, CollectionSpec, collection_name
from flouds_vectordb_spark.operators.upsert import (
    CollectionWriter,
    should_flush,
    upsert,
    validate_dimensions,
)


def test_collection_naming_matches_reference():
    # base_milvus.py:487-497: lowercase, -/. -> _
    assert collection_name("T1", "all-MiniLM-L6.v2") == \
        "vector_store_schema_for_t1_all_minilm_l6_v2"


def test_spec_validation_bounds():
    with pytest.raises(ValueError):
        CollectionSpec("t", "m", dimension=0).validate()
    with pytest.raises(ValueError):
        CollectionSpec("t", "m", dimension=5000).validate()
    with pytest.raises(ValueError):
        CollectionSpec("t", "m", 8, metric_type="HAMMING").validate()
    with pytest.raises(ValueError):
        CollectionSpec("t", "m", 8, index_type="ANNOY").validate()
    CollectionSpec("t", "m", 8, index_type="HNSW").validate()  # real graph ANN since r5


def test_ddl_flow(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    assert not cat.tenant_exists("acme")
    r = cat.set_vector_store("acme")
    assert r["created"] and cat.tenant_exists("acme")
    assert not cat.collection_exists("acme", "modelx")
    with pytest.raises(ValueError):
        cat.generate_schema(CollectionSpec("ghost", "m", 8))  # unknown tenant
    cat.generate_schema(CollectionSpec("acme", "modelx", dimension=4))
    assert cat.collection_exists("acme", "modelx")
    assert cat.vector_dimension("acme", "modelx") == 4
    # duplicate generate_schema is idempotent like the reference
    assert cat.generate_schema(CollectionSpec("acme", "modelx", 4))["schema_exists"]


def test_flush_policy_matches_reference():
    # milvus_helper.py:121-130: 0 => always, <0 => never, else threshold
    assert should_flush(1, force_flush=True, auto_flush_min_batch=-1)
    assert should_flush(1, auto_flush_min_batch=0)
    assert not should_flush(99, auto_flush_min_batch=100)
    assert should_flush(100, auto_flush_min_batch=100)
    assert not should_flush(10**6, auto_flush_min_batch=-1)


def test_dimension_validation(spark):
    ok = spark.createDataFrame([("a", [1.0, 2.0])], "id string, vector array<double>")
    validate_dimensions(ok, 2)
    bad = spark.createDataFrame([("a", [1.0, 2.0]), ("b", [1.0])],
                                "id string, vector array<double>")
    with pytest.raises(ValueError, match="b"):
        validate_dimensions(bad, 2)


def test_upsert_latest_wins(spark):
    cur = spark.createDataFrame(
        [("a", "old", 0), ("b", "keep", 0)], "id string, chunk string, batch_ts long")
    batch = spark.createDataFrame(
        [("a", "new", 1), ("c", "ins", 1)], "id string, chunk string, batch_ts long")
    got = {r["id"]: r["chunk"] for r in upsert(cur, batch).collect()}
    assert got == {"a": "new", "b": "keep", "c": "ins"}


def test_insert_flush_read_roundtrip(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh2")))
    cat.set_vector_store("t2")
    cat.generate_schema(CollectionSpec("t2", "m", dimension=2))
    w = CollectionWriter(cat, "t2", "m")

    b1 = spark.createDataFrame([("a", "v1", [1.0, 0.0]), ("b", "v1", [0.0, 1.0])],
                               "id string, chunk string, vector array<float>")
    r1 = w.insert_data(b1, batch_ts=1, auto_flush_min_batch=-1)
    assert r1 == {"inserted": 2, "flushed": False, "sparse_indexed": False, "dense_indexed": False}

    b2 = spark.createDataFrame([("a", "v2", [0.5, 0.5])],
                               "id string, chunk string, vector array<float>")
    r2 = w.insert_data(b2, batch_ts=2, force_flush=True)
    assert r2["flushed"]

    latest = {r["id"]: r["chunk"] for r in w.read_latest().collect()}
    assert latest == {"a": "v2", "b": "v1"}
    # after flush the compacted table IS the latest state (one row per key)
    raw = cat.read_collection("t2", "m")
    assert raw.count() == 2

    bad = spark.createDataFrame([("z", "x", [1.0])],
                                "id string, chunk string, vector array<float>")
    with pytest.raises(ValueError):
        w.insert_data(bad, batch_ts=3)


def test_flush_pointer_commit_crash_states(spark, tmp_path_factory, monkeypatch):
    """r12 (VERDICT ask #7): flush commits via ONE atomic pointer-file
    replace — crash states collapse to 'pointer names old or new'.
    Recovery's single rule: the pointed generation is the data; NEWER
    half-written generations and pointer tmps are garbage; the previous
    generation is retained one cycle (reader grace) and swept by the
    next flush. Grace window forced to 0 here so the sweep horizon is
    deterministic (age-based retention has its own test)."""
    import os
    import shutil

    import flouds_vectordb_spark.operators.upsert as upsert_mod
    from flouds_vectordb_spark.catalog import CURRENT_PTR, resolve_data_dir

    monkeypatch.setattr(upsert_mod, "GENERATION_GRACE_SECONDS", 0.0)

    cat = Catalog(spark, str(tmp_path_factory.mktemp("whcr")))
    cat.set_vector_store("t9")
    cat.generate_schema(CollectionSpec("t9", "m", dimension=2))
    w = CollectionWriter(cat, "t9", "m")
    b = spark.createDataFrame([("a", "v1", [1.0, 0.0]), ("b", "v1", [0.0, 1.0])],
                              "id string, chunk string, vector array<float>")
    w.insert_data(b, batch_ts=1, force_flush=True)
    root = w.meta["path"]
    gen1 = resolve_data_dir(root)
    assert os.path.basename(gen1) == "_gen-000001"  # first flush committed

    def rows():
        return {r["id"]: r["chunk"] for r in w.read_latest().collect()}

    # state A: crash DURING the new-generation write (pointer still old):
    # a half-written newer gen is garbage; reads are untouched
    shutil.copytree(gen1, os.path.join(root, "_gen-000002"))
    open(os.path.join(root, CURRENT_PTR + ".tmp"), "w").close()
    assert rows() == {"a": "v1", "b": "v1"}  # reader ignores garbage
    w._recover_compaction()
    assert not os.path.isdir(os.path.join(root, "_gen-000002"))
    assert not os.path.exists(os.path.join(root, CURRENT_PTR + ".tmp"))
    assert rows() == {"a": "v1", "b": "v1"}

    # state B: crash AFTER the pointer replace, before the sweep: the
    # commit is complete; the previous generation lingers (by design —
    # reader grace) until the next flush sweeps it
    shutil.copytree(gen1, os.path.join(root, "_gen-000002"))
    with open(os.path.join(root, CURRENT_PTR), "w") as f:
        f.write("_gen-000002")
    assert resolve_data_dir(root).endswith("_gen-000002")
    w._recover_compaction()
    assert os.path.isdir(gen1)  # previous gen retained, not garbage
    assert rows() == {"a": "v1", "b": "v1"}

    # a real flush on the recovered collection sweeps the old generation
    b2 = spark.createDataFrame([("a", "v2", [0.5, 0.5])],
                               "id string, chunk string, vector array<float>")
    w.insert_data(b2, batch_ts=2, force_flush=True)
    assert rows() == {"a": "v2", "b": "v1"}
    assert resolve_data_dir(root).endswith("_gen-000003")
    assert not os.path.isdir(gen1)  # swept: two flushes old
    assert os.path.isdir(os.path.join(root, "_gen-000002"))  # grace kept


def test_sweep_retains_young_generations_for_readers(spark, tmp_path_factory):
    """r12 ADVICE low: the sweep horizon is AGE, not flush count — a
    generation displaced by two rapid consecutive flushes is retained
    while younger than GENERATION_GRACE_SECONDS (a live reader may still
    hold its file list), and swept once its mtime ages past the window."""
    import os
    import time

    from flouds_vectordb_spark.catalog import resolve_data_dir

    cat = Catalog(spark, str(tmp_path_factory.mktemp("whgr")))
    cat.set_vector_store("t9g")
    cat.generate_schema(CollectionSpec("t9g", "m", dimension=2))
    w = CollectionWriter(cat, "t9g", "m")

    def ins(ts, chunk):
        b = spark.createDataFrame([("a", chunk, [1.0, 0.0])],
                                  "id string, chunk string, vector array<float>")
        w.insert_data(b, batch_ts=ts, force_flush=True)

    ins(1, "v1")
    ins(2, "v2")
    ins(3, "v3")  # two rapid flushes after gen1: past {new, cur}, but young
    root = w.meta["path"]
    gen1 = os.path.join(root, "_gen-000001")
    assert resolve_data_dir(root).endswith("_gen-000003")
    assert os.path.isdir(gen1)  # grace: young generation survives N flushes

    # age gen1 past the window: the next flush sweeps it
    old = time.time() - 10_000
    os.utime(gen1, (old, old))
    ins(4, "v4")
    assert not os.path.isdir(gen1)
    assert os.path.isdir(os.path.join(root, "_gen-000003"))  # cur's prev kept
    assert {r["id"]: r["chunk"] for r in w.read_latest().collect()} == {"a": "v4"}


def test_flush_legacy_two_rename_states_still_recover(spark, tmp_path_factory):
    """Collections left mid-swap by the pre-r12 two-rename protocol must
    still recover (roll forward with the marker, back without), after
    which the pointer protocol takes over."""
    import os
    import shutil

    from flouds_vectordb_spark.catalog import resolve_data_dir

    cat = Catalog(spark, str(tmp_path_factory.mktemp("whlg")))
    cat.set_vector_store("t9b")
    cat.generate_schema(CollectionSpec("t9b", "m", dimension=2))
    w = CollectionWriter(cat, "t9b", "m")
    b = spark.createDataFrame([("a", "v1", [1.0, 0.0]), ("b", "v1", [0.0, 1.0])],
                              "id string, chunk string, vector array<float>")
    w.insert_data(b, batch_ts=1, auto_flush_min_batch=-1)  # no flush: root layout
    root = w.meta["path"]
    assert resolve_data_dir(root) == root  # pre-flush: loose segments
    tmp, old = root + "__compacting", root + "__precompact"

    def rows():
        return {r["id"]: r["chunk"] for r in w.read_latest().collect()}

    # legacy roll FORWARD: marker present, root renamed away mid-swap
    shutil.copytree(root, tmp)
    open(os.path.join(tmp, "_COMPACT_COMPLETE"), "w").close()
    os.rename(root, old)
    w._recover_compaction()
    assert os.path.isdir(root) and not os.path.isdir(old) \
        and not os.path.isdir(tmp)
    assert rows() == {"a": "v1", "b": "v1"}
    os.remove(os.path.join(root, "_COMPACT_COMPLETE"))

    # legacy roll BACK: no marker -> the tmp is untrusted
    shutil.copytree(root, tmp)
    os.rename(root, old)
    w._recover_compaction()
    assert os.path.isdir(root) and not os.path.isdir(tmp) \
        and not os.path.isdir(old)
    assert rows() == {"a": "v1", "b": "v1"}

    # and the pointer protocol takes over on the next flush
    w.flush()
    assert resolve_data_dir(root).endswith("_gen-000001")
    assert rows() == {"a": "v1", "b": "v1"}


def test_reader_never_sees_missing_path_during_flush(spark, tmp_path_factory):
    """r12: the collection root is never renamed or absent — a reader
    concurrent with flush resolves either the old or the new pointer and
    both directories exist (previous generation retained one cycle). The
    r11 seam-retry machinery is gone."""
    import threading

    cat = Catalog(spark, str(tmp_path_factory.mktemp("whsw")))
    cat.set_vector_store("t9c")
    cat.generate_schema(CollectionSpec("t9c", "m", dimension=2))
    w = CollectionWriter(cat, "t9c", "m")
    b = spark.createDataFrame([("a", "v1", [1.0, 0.0]), ("b", "v1", [0.0, 1.0])],
                              "id string, chunk string, vector array<float>")
    w.insert_data(b, batch_ts=1, force_flush=True)

    stop = threading.Event()
    errors: list = []

    def reader():
        while not stop.is_set():
            try:
                got = {r["id"]: r["chunk"]
                       for r in cat.read_collection("t9c", "m").collect()}
                assert got == {"a": "v1", "b": "v1"}, got
            except Exception as e:  # noqa: BLE001 — recorded for the assert
                errors.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(3):
            w.flush()  # repeated pointer commits while the reader loops
    finally:
        stop.set()
        t.join()
    assert not errors
    assert not hasattr(Catalog, "_await_swap_seam")  # seam machinery deleted


def test_catalog_name_validation_and_idempotency(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh5")))
    # normalization: ACME and acme are the same tenant (input_validator.py:65-99)
    cat.set_vector_store("  ACME  ")
    assert cat.tenant_exists("acme") and cat.tenant_exists("ACME")
    # invalid names rejected like the reference validators
    for bad in ("", "ab", "a", "x" * 51, "bad-tenant", "has space"):
        with pytest.raises(ValueError):
            cat.set_vector_store(bad)
    with pytest.raises(ValueError):
        cat.generate_schema(CollectionSpec("acme", "model/with/slash", 8))
    # generate_schema is idempotent (base_milvus.py:1203-1214), not an error
    first = cat.generate_schema(CollectionSpec("acme", "ModelX", 8))
    assert first["schema_exists"] is False
    again = cat.generate_schema(CollectionSpec("ACME", "modelx", 8))
    assert again["schema_exists"] is True
    assert again["collection"] == first["collection"]


def test_collection_sparse_and_hybrid_search(spark, tmp_path_factory):
    from flouds_vectordb_spark.operators.hybrid_search import HybridSearchRequest
    from flouds_vectordb_spark.operators.sparse_search import SparseSearchRequest

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh4")))
    cat.set_vector_store("t4")
    cat.generate_schema(CollectionSpec("t4", "m", dimension=2, nlist=2))
    w = CollectionWriter(cat, "t4", "m")
    batch = spark.createDataFrame(
        [("a", "spark merge join", [1.0, 0.0]),
         ("b", "spark spark scan", [0.0, 1.0]),
         ("c", "hash join probe build", [0.7, 0.7]),
         ("d", "scan scan scan scan", [0.5, 0.1])],
        "id string, chunk string, vector array<float>")
    w.insert_data(batch, batch_ts=1, force_flush=True)

    sreq = SparseSearchRequest(query_text="spark join", limit=3)
    direct = [(r["id"], r["score"]) for r in w.search_sparse(sreq).collect()]
    assert len(direct) == 3 and {i for i, _ in direct} <= {"a", "b", "c"}

    # posting-table path: identical results, and the term filter must be
    # PUSHED into the parquet scan of the index (not a post-scan filter)
    with pytest.raises(ValueError, match="no sparse index"):
        w.search_sparse(sreq, use_index=True)
    w.build_sparse_index()
    via_idx_df = w.search_sparse(sreq, use_index=True)
    assert [(r["id"], r["score"]) for r in via_idx_df.collect()] == direct
    plan = via_idx_df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan

    hreq = HybridSearchRequest(query_vector=[1.0, 0.2], text_filter="spark join",
                               limit=4, output_fields=())
    fused = [r["id"] for r in w.search_hybrid(hreq).collect()]
    fused_idx = [r["id"] for r in w.search_hybrid(hreq, use_index=True).collect()]
    assert fused and fused == fused_idx
    with pytest.raises(ValueError, match="dimension"):
        w.search_hybrid(HybridSearchRequest(query_vector=[1.0, 0.2, 3.0],
                                            text_filter="spark"))


def test_collection_search_validates_query_dim(spark, tmp_path_factory):
    from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh3")))
    cat.set_vector_store("t3")
    cat.generate_schema(CollectionSpec("t3", "m", dimension=2, nlist=2))
    w = CollectionWriter(cat, "t3", "m")
    batch = spark.createDataFrame(
        [(f"k{i}", f"doc {i}", [float(i), 1.0 - i / 10.0]) for i in range(12)],
        "id string, chunk string, vector array<float>")
    w.insert_data(batch, batch_ts=1, force_flush=True)

    # wrong-dim query must raise, not silently return nothing
    with pytest.raises(ValueError, match="dimension"):
        w.search(DenseSearchRequest(query_vector=[1.0, 2.0, 3.0]))

    req = DenseSearchRequest(query_vector=[1.0, 0.5], limit=3, output_fields=())
    exact = [r["id"] for r in w.search(req).collect()]
    assert len(exact) == 3

    # index build + full-probe index search returns the exact result
    w.build_index()
    # nprobe=4 > nlist=2 clamps to a full probe (probe_cells min(nprobe, nlist))
    via_idx = [r["id"] for r in
               w.search(DenseSearchRequest(query_vector=[1.0, 0.5], limit=3,
                                           output_fields=(), nprobe=4),
                        use_index=True).collect()]
    assert via_idx == exact
    with pytest.raises(ValueError, match="nprobe"):
        DenseSearchRequest(query_vector=[1.0, 0.5], nprobe=2)


def test_config_kv_store(spark, tmp_path_factory):
    """S7 config KV (config_service.py:136-499): per-tenant namespacing,
    upsert-on-conflict, delete, and the encrypted-flag contract (reads of
    encrypted rows return (None, True), never a value)."""
    from flouds_vectordb_spark.catalog import ConfigKV

    kv = ConfigKV(Catalog(spark, str(tmp_path_factory.mktemp("whkv"))))
    kv.set_config("retries", "3")
    kv.set_config("retries", "9", tenant_code="acme1")  # tenant shadows global
    assert kv.get_config("retries") == "3"
    assert kv.get_config("retries", tenant_code="acme1") == "9"
    kv.set_config("retries", "5")  # upsert
    assert kv.get_config("retries") == "5"
    assert kv.get_config("missing") is None
    kv.set_config("token", "secret", encrypted=True)
    assert kv.get_config_meta("token") == (None, True)
    kv.delete_config("retries")
    assert kv.get_config("retries") is None
    assert kv.get_config("retries", tenant_code="acme1") == "9"
    with pytest.raises(ValueError):
        kv.set_config("", "x")


def test_incremental_sparse_index_matches_full_rebuild(spark, tmp_path_factory):
    """ADVICE/VERDICT r4: insert_data on an indexed collection must merge
    the batch into the sparse index incrementally (append tf/doc rows,
    merge term stats — O(batch), no posting rewrite) and the DERIVED
    weights must equal a from-scratch bm25_postings rebuild bit-for-bit,
    including updates (superseded doc versions leave the stats)."""
    from flouds_vectordb_spark.operators.sparse_search import (
        SparseSearchRequest,
        bm25_postings,
    )

    cat = Catalog(spark, str(tmp_path_factory.mktemp("whinc")))
    cat.set_vector_store("t6")
    cat.generate_schema(CollectionSpec("t6", "m", dimension=2, nlist=2))
    w = CollectionWriter(cat, "t6", "m")
    b1 = spark.createDataFrame(
        [("a", "spark merge join", [1.0, 0.0]),
         ("b", "spark spark scan", [0.0, 1.0]),
         ("c", "hash join probe build", [0.7, 0.7]),
         ("e", "", [0.1, 0.1])],  # zero-term doc: counters must include it
        "id string, chunk string, vector array<float>")
    w.insert_data(b1, batch_ts=1, force_flush=True)
    w.build_sparse_index()

    # batch 2: new keys + an UPDATE of "b" (its old terms must leave df/dl)
    b2 = spark.createDataFrame(
        [("d", "scan scan scan probe", [0.5, 0.1]),
         ("b", "merge probe", [0.0, 0.9]),
         ("f", "join build spark", [0.2, 0.8])],
        "id string, chunk string, vector array<float>")
    res = w.insert_data(b2, batch_ts=2, force_flush=True)
    assert res["sparse_indexed"] is True

    derived = {(r["id"], r["term"]): (r["tf"], r["dl"], r["df"], r["weight"])
               for r in w._stored_postings().collect()}
    rebuilt = {(r["id"], r["term"]): (r["tf"], r["dl"], r["df"], r["weight"])
               for r in bm25_postings(w.read_latest()).collect()}
    assert derived == rebuilt

    # search over the merged index equals the index-free direct scorer
    sreq = SparseSearchRequest(query_text="spark probe", limit=5)
    via_idx = [(r["id"], r["score"]) for r in
               w.search_sparse(sreq, use_index=True).collect()]
    direct = [(r["id"], r["score"]) for r in w.search_sparse(sreq).collect()]
    assert via_idx == direct and via_idx


def test_sparse_tf_files_have_disjoint_term_ranges(spark, tmp_path_factory):
    """Scale guard for the posting layout: the tf table is written
    range-partitioned + sorted by term, so each parquet file covers a
    narrow, non-overlapping term range — parquet min/max stats then make
    a pushed `term IN (...)` a real file/row-group skip at 100 TB."""
    import glob

    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path_factory.mktemp("whrng")))
    cat.set_vector_store("t7")
    cat.generate_schema(CollectionSpec("t7", "m", dimension=2, nlist=2))
    w = CollectionWriter(cat, "t7", "m")
    import random

    rnd = random.Random(7)
    words = [f"w{i:03d}" for i in range(120)]
    rows = [(f"k{i}", " ".join(rnd.sample(words, 6)), [1.0, 0.0])
            for i in range(200)]
    w.insert_data(
        spark.createDataFrame(rows, "id string, chunk string, vector array<float>"),
        batch_ts=1, force_flush=True)
    # AQE rightly coalesces the tiny test shuffle into one partition (at
    # scale it targets bytes-per-partition, each still a disjoint range);
    # disable coalescing so the multi-file layout is observable here
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        w.build_sparse_index()
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    ranges = []
    for f in glob.glob(w._sparse_paths()["tf"] + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        stats = [md.row_group(g).column(
            next(i for i in range(md.num_columns)
                 if md.schema.column(i).name == "term")).statistics
            for g in range(md.num_row_groups)]
        if stats and all(s is not None for s in stats):
            ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    assert len(ranges) > 1, "expected multiple range-partitioned files"
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"overlapping term ranges: {hi} > {lo}"

    # the doc registry's build and append part files share one schema,
    # (id, dl, batch_ts): Spark infers the registry schema from whichever
    # part file lists first, so mixed layouts made the posting view's
    # plan differ from run to run. Names and types only: Spark reads
    # every parquet column as nullable, and the append's batch_ts is a
    # non-NULL literal
    w.insert_data(
        spark.createDataFrame([("k0", "w001 w002", [1.0, 0.0]),
                               ("k999", "w003", [0.0, 1.0])],
                              "id string, chunk string, vector array<float>"),
        batch_ts=2, force_flush=True)
    docs = glob.glob(w._sparse_paths()["docs"] + "/*.parquet")
    assert len(docs) > 1
    schemas = {tuple((c.name, str(c.type)) for c in pq.read_schema(f))
               for f in docs}
    assert schemas == {(("id", "string"), ("dl", "int32"),
                        ("batch_ts", "int32"))}, schemas


def test_postings_partition_count_scales_with_corpus(spark, tmp_path,
                                                     monkeypatch):
    """r9 VERDICT ask #2: the production postings write must scale its
    range-partition count with the corpus — the scale harness measured a
    fixed 32-partition write sorting 31M posting rows per partition with
    spill at 5M docs (227.4 s vs 102.0 s at 256 partitions). Pins the
    mechanism: session default below the threshold, monotone growth with
    the Catalyst scan estimate above it, clamped at the max, and
    _term_sorted honoring the computed count."""
    from flouds_vectordb_spark.operators.upsert import CollectionWriter as CW

    small = spark.range(50).selectExpr("id", "repeat('x', 100) AS text")
    big = spark.range(5000).selectExpr("id", "repeat('y', 100) AS text")
    small_p, big_p = str(tmp_path / "small.pq"), str(tmp_path / "big.pq")
    small.write.parquet(small_p)
    big.write.parquet(big_p)
    s_small, s_big = spark.read.parquet(small_p), spark.read.parquet(big_p)

    # gate-scale corpora sit below the per-partition budget: keep the
    # session default (None = let repartitionByRange pick it)
    assert CW._postings_partitions(s_small) is None

    # shrink the budget so these scans cross it, then growth must be
    # monotone in corpus bytes
    monkeypatch.setattr(CW, "_POSTINGS_SRC_BYTES_PER_PART", 64)
    n_small, n_big = (CW._postings_partitions(s_small),
                      CW._postings_partitions(s_big))
    assert n_small is not None and n_big is not None and n_big > n_small

    monkeypatch.setattr(CW, "_POSTINGS_MAX_PARTS", 7)
    assert CW._postings_partitions(s_big) == 7  # clamp

    monkeypatch.setattr(CW, "_POSTINGS_MAX_PARTS", 32_768)
    # unique terms: repartitionByRange caps partitions at the distinct
    # range-key count, so low-cardinality frames would undershoot n
    post = s_big.selectExpr("id", "lpad(cast(id AS string), 8, '0') AS term")
    n = CW._postings_partitions(s_big)
    got = CW._term_sorted(post, src=s_big).rdd.getNumPartitions()
    assert got == n, (got, n)


# ---- INT64 / auto_id primary key (base_milvus.py:894-947) --------------------

def test_pk_type_spec_validation():
    for alias, canon, auto in (("VARCHAR", "VARCHAR", False),
                               ("string", "VARCHAR", False),
                               ("INT64", "INT64", True),
                               ("int", "INT64", True)):
        s = CollectionSpec("t0", "m", dimension=4, primary_key_data_type=alias)
        s.validate()
        assert s.pk_type == canon and s.auto_id is auto
    with pytest.raises(ValueError, match="primary_key_data_type"):
        CollectionSpec("t0", "m", dimension=4,
                       primary_key_data_type="FLOAT").validate()


def test_collection_schema_pk_types():
    from flouds_vectordb_spark.catalog import collection_schema

    assert collection_schema(4)["id"].dataType.typeName() == "string"
    assert collection_schema(4, "INT64")["id"].dataType.typeName() == "long"
    assert collection_schema(4, "int")["id"].dataType.typeName() == "long"


def test_auto_id_insert_assigns_dense_unique_ids(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_int64")))
    cat.set_vector_store("t0")
    cat.generate_schema(CollectionSpec("t0", "m4", dimension=4,
                                       primary_key_data_type="INT64"))
    w = CollectionWriter(cat, "t0", "m4")
    batch = spark.createDataFrame(
        [(f"c{i}", [float(i), 0.0, 0.0, 1.0]) for i in range(12)],
        "chunk string, vector array<float>").repartition(5)
    w.insert_data(batch, batch_ts=1)
    w.insert_data(batch, batch_ts=2)  # second batch continues the sequence
    got = w.read_latest()
    assert dict(got.dtypes)["id"] == "bigint"
    ids = sorted(r["id"] for r in got.select("id").collect())
    # dense 0..23, unique ACROSS batches (high-water mark persisted)
    assert ids == list(range(24))
    assert cat.describe_collection("t0", "m4")["auto_id_next"] == 24
    # a fresh writer (new process, re-read catalog row) keeps continuing
    w2 = CollectionWriter(cat, "t0", "m4")
    w2.insert_data(batch.limit(3), batch_ts=3)
    assert cat.describe_collection("t0", "m4")["auto_id_next"] == 27


def test_auto_id_rejects_client_ids_and_validates_dims(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_int64b")))
    cat.set_vector_store("t0")
    cat.generate_schema(CollectionSpec("t0", "m4", dimension=4,
                                       primary_key_data_type="INT64"))
    w = CollectionWriter(cat, "t0", "m4")
    with_ids = spark.createDataFrame(
        [("k1", "c", [1.0, 0.0, 0.0, 0.0])],
        "id string, chunk string, vector array<float>")
    with pytest.raises(ValueError, match="auto-assigned INT64"):
        w.insert_data(with_ids, batch_ts=1)
    bad_dim = spark.createDataFrame(
        [("c", [1.0, 0.0])], "chunk string, vector array<float>")
    with pytest.raises(ValueError, match="dimension != 4"):
        w.insert_data(bad_dim, batch_ts=1)
    # failed batches must not advance the high-water mark
    assert cat.describe_collection("t0", "m4").get("auto_id_next", 0) == 0


def test_auto_id_search_flow(spark, tmp_path_factory):
    from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_int64c")))
    cat.set_vector_store("t0")
    cat.generate_schema(CollectionSpec("t0", "m4", dimension=4,
                                       primary_key_data_type="INT64"))
    w = CollectionWriter(cat, "t0", "m4")
    batch = spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0, 0.0]), ("b", [0.0, 1.0, 0.0, 0.0]),
         ("c", [0.9, 0.1, 0.0, 0.0])],
        "chunk string, vector array<float>")
    w.insert_data(batch, batch_ts=1, force_flush=True)
    res = w.search(DenseSearchRequest(query_vector=[1.0, 0.0, 0.0, 0.0],
                                      metric="COSINE", limit=2,
                                      output_fields=("chunk",)),
                   chunk_col="chunk")
    rows = res.collect()
    assert [r["chunk"] for r in rows] == ["a", "c"]
    assert all(isinstance(r["id"], int) for r in rows)


# ---- single-writer ingest contract (locks.py) --------------------------------

def _mini_collection(spark, tmp_path_factory, tag):
    cat = Catalog(spark, str(tmp_path_factory.mktemp(tag)))
    cat.set_vector_store("t0")
    cat.generate_schema(CollectionSpec("t0", "m4", dimension=4))
    batch = spark.createDataFrame(
        [("k1", "c", [1.0, 0.0, 0.0, 0.0])],
        "id string, chunk string, vector array<float>")
    return cat, batch


def test_two_writers_fail_loudly_not_silently(spark, tmp_path_factory):
    from flouds_vectordb_spark.locks import ConcurrentWriteError

    cat, batch = _mini_collection(spark, tmp_path_factory, "wh_lock")
    w1 = CollectionWriter(cat, "t0", "m4")
    w2 = CollectionWriter(cat, "t0", "m4")
    w1._lock.acquire()  # writer 1 mid-ingest
    try:
        with pytest.raises(ConcurrentWriteError, match="locked by another writer"):
            w2.insert_data(batch, batch_ts=1)
        with pytest.raises(ConcurrentWriteError):
            w2.flush()
    finally:
        w1._lock.release()
    # after writer 1 finishes, writer 2 proceeds normally
    w2.insert_data(batch, batch_ts=2, force_flush=True)
    assert w2.read_latest().count() == 1


def test_writer_lock_reentrant_and_released(spark, tmp_path_factory):
    cat, batch = _mini_collection(spark, tmp_path_factory, "wh_lock2")
    w = CollectionWriter(cat, "t0", "m4")
    # insert_data(force_flush=True) calls flush() inside the lock: must not
    # self-deadlock or raise, and must release the lock file afterwards
    w.insert_data(batch, batch_ts=1, force_flush=True)
    import os
    assert not os.path.exists(w._lock.lock_path)
    # a failed insert also releases the lock
    bad = spark.createDataFrame([("k", "c", [1.0])],
                                "id string, chunk string, vector array<float>")
    with pytest.raises(ValueError):
        w.insert_data(bad, batch_ts=2)
    assert not os.path.exists(w._lock.lock_path)


def test_stale_lock_of_dead_writer_is_broken(spark, tmp_path_factory):
    import json as _json
    import socket

    cat, batch = _mini_collection(spark, tmp_path_factory, "wh_lock3")
    w = CollectionWriter(cat, "t0", "m4")
    # forge a lock owned by a dead pid on THIS host
    with open(w._lock.lock_path, "w") as f:
        _json.dump({"pid": 2**22 + 12345, "host": socket.gethostname(),
                    "ts": 0}, f)
    w.insert_data(batch, batch_ts=1)  # breaks the dead lock, proceeds
    assert w.read_latest().count() == 1


def test_live_lock_on_other_host_is_respected(spark, tmp_path_factory):
    import json as _json
    import time

    from flouds_vectordb_spark.locks import ConcurrentWriteError

    cat, batch = _mini_collection(spark, tmp_path_factory, "wh_lock4")
    w = CollectionWriter(cat, "t0", "m4")
    with open(w._lock.lock_path, "w") as f:
        _json.dump({"pid": 1, "host": "some-other-executor-host",
                    "ts": time.time()}, f)
    with pytest.raises(ConcurrentWriteError):
        w.insert_data(batch, batch_ts=1)


def test_live_same_host_lock_ages_only_past_hard_bound(spark, tmp_path_factory):
    """A LIVE same-host owner keeps its lock well past stale_after (a long
    compaction must not lose it to the age heuristic) — but beyond the
    HARD bound even a live pid is broken (pid-recycling escape hatch)."""
    import json as _json
    import os
    import socket
    import time

    from flouds_vectordb_spark.locks import ConcurrentWriteError

    cat, batch = _mini_collection(spark, tmp_path_factory, "wh_lock5")
    w = CollectionWriter(cat, "t0", "m4")
    # our own live pid, 3x stale_after old: still held
    with open(w._lock.lock_path, "w") as f:
        _json.dump({"pid": os.getpid(), "host": socket.gethostname(),
                    "ts": time.time() - 3 * w._lock.stale_after}, f)
    w2 = CollectionWriter(cat, "t0", "m4")
    with pytest.raises(ConcurrentWriteError):
        w2.insert_data(batch, batch_ts=1)
    # past HARD_STALE_FACTOR * stale_after: broken even though pid is live
    with open(w._lock.lock_path, "w") as f:
        _json.dump({"pid": os.getpid(), "host": socket.gethostname(),
                    "ts": 0}, f)
    w2.insert_data(batch, batch_ts=1)
    assert w2.read_latest().count() == 1


def test_release_does_not_remove_foreign_lock(spark, tmp_path_factory):
    """release() after a cross-host takeover must not unlink the NEW
    owner's lock file."""
    import json as _json
    import os

    cat, _ = _mini_collection(spark, tmp_path_factory, "wh_lock6")
    w = CollectionWriter(cat, "t0", "m4")
    w._lock.acquire()
    # simulate another host breaking our (aged-out) lock and taking over
    with open(w._lock.lock_path, "w") as f:
        _json.dump({"pid": 1, "host": "other-host", "ts": 9e18}, f)
    w._lock.release()
    assert os.path.exists(w._lock.lock_path), \
        "release removed a lock it no longer owned"
    os.unlink(w._lock.lock_path)


def test_meta_mutations_are_lock_serialized(spark, tmp_path_factory):
    """_mutate_meta RMWs under the per-kind lock: a second mutator waits
    (wait_s) instead of failing, and neither update is lost — the race
    that would revert one collection's auto_id high-water mark when
    another collection's DDL wrote the shared file concurrently."""
    import threading

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_meta")))
    cat.set_vector_store("t0")
    cat.generate_schema(CollectionSpec("t0", "ma", dimension=4))
    cat.generate_schema(CollectionSpec("t0", "mb", dimension=4))

    errs = []

    def bump(model, n):
        try:
            for i in range(n):
                cat.update_collection_meta("t0", model, counter=i + 1)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=bump, args=("ma", 20)),
               threading.Thread(target=bump, args=("mb", 20))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert cat.describe_collection("t0", "ma")["counter"] == 20
    assert cat.describe_collection("t0", "mb")["counter"] == 20


def test_batch_ts_must_increase_per_collection(spark, tmp_path_factory):
    cat, batch = _mini_collection(spark, tmp_path_factory, "wh_ts")
    w = CollectionWriter(cat, "t0", "m4")
    w.insert_data(batch, batch_ts=5)
    for bad in (5, 4):
        with pytest.raises(ValueError, match="strictly increasing"):
            w.insert_data(batch, batch_ts=bad)
    w.insert_data(batch, batch_ts=6)  # strictly greater: fine
    assert cat.describe_collection("t0", "m4")["last_batch_ts"] == 6


def test_auto_id_mark_read_fresh_under_lock(spark, tmp_path_factory):
    """A writer constructed BEFORE another writer's insert must continue
    the id sequence from the catalog file's current high-water mark, not
    its stale cached snapshot (duplicate-pk regression)."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_int64d")))
    cat.set_vector_store("t0")
    cat.generate_schema(CollectionSpec("t0", "m4", dimension=4,
                                       primary_key_data_type="INT64"))
    w_old = CollectionWriter(cat, "t0", "m4")   # caches auto_id_next=0
    w_new = CollectionWriter(cat, "t0", "m4")
    batch = spark.createDataFrame(
        [(f"c{i}", [float(i), 0.0, 0.0, 1.0]) for i in range(5)],
        "chunk string, vector array<float>")
    w_new.insert_data(batch, batch_ts=1)        # ids 0..4
    w_old.insert_data(batch, batch_ts=2)        # must be 5..9, not 0..4
    ids = sorted(r["id"] for r in w_old.read_latest().select("id").collect())
    assert ids == list(range(10))


def test_crash_between_meta_and_write_burns_ts_no_duplicates(
        spark, tmp_path_factory, monkeypatch):
    """r7 commit-order contract (ADVICE r6): the watermark advances BEFORE
    the data write, so a crash between the two burns the ts — a same-ts
    retry is REJECTED (instead of silently duplicating the batch on disk)
    and a fresh-ts retry succeeds with exactly one version per key."""
    import pyspark.sql.readwriter as RW

    cat, batch = _mini_collection(spark, tmp_path_factory, "wh_crash")
    w = CollectionWriter(cat, "t0", "m4")
    w.insert_data(batch, batch_ts=1)

    orig = RW.DataFrameWriter.parquet
    state = {"armed": True}

    def boom(self, path, *a, **kw):
        if state["armed"] and path == w.meta["path"]:
            state["armed"] = False
            raise RuntimeError("simulated crash after meta update")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(RW.DataFrameWriter, "parquet", boom)
    b2 = spark.createDataFrame(
        [("k1", "c2", [0.0, 1.0, 0.0, 0.0])],
        "id string, chunk string, vector array<float>")
    with pytest.raises(RuntimeError, match="simulated crash"):
        w.insert_data(b2, batch_ts=2)
    # ts 2 is burned: watermark advanced, data absent
    assert cat.describe_collection("t0", "m4")["last_batch_ts"] == 2
    with pytest.raises(ValueError, match="strictly increasing"):
        w.insert_data(b2, batch_ts=2)
    w.insert_data(b2, batch_ts=3)
    rows = w.read_latest().collect()
    assert len(rows) == 1 and rows[0]["chunk"] == "c2"
    # underlying segments: exactly TWO physical versions of k1 (ts 1 and 3)
    phys = cat.read_collection("t0", "m4").select("batch_ts").collect()
    assert sorted(r["batch_ts"] for r in phys) == [1, 3]


def test_ivf_staleness_join_skipped_until_post_build_append(
        spark, tmp_path_factory):
    """r7 (ADVICE r6): a never-appended index skips the O(collection)
    _latest_keys semi-join; the first post-build insert flips the meta
    flag (pessimistically, BEFORE its data write) and search results stay
    latest-wins correct through an update of an existing key."""
    from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_skipj")))
    cat.set_vector_store("t0")
    cat.generate_schema(CollectionSpec("t0", "m4", dimension=4, nlist=2))
    w = CollectionWriter(cat, "t0", "m4")
    batch = spark.createDataFrame(
        [(f"k{i}", "c", [float(i % 3), float(i % 5), 1.0, 0.0])
         for i in range(20)],
        "id string, chunk string, vector array<float>")
    w.insert_data(batch, batch_ts=1, force_flush=True)
    w.build_index()
    assert w.meta["index_appends"] == 0
    assert w._ivf_needs_staleness_join() is False
    req = DenseSearchRequest(query_vector=[0.0, 0.0, 1.0, 0.0],
                             metric="COSINE", limit=3, output_fields=())
    base = {(r["id"], r["score"]) for r in w.search(req, use_index=True).collect()}
    assert base == {(r["id"], r["score"]) for r in w.search(req).collect()}
    # post-build UPDATE of k0: flag flips, stale version must not surface
    upd = spark.createDataFrame(
        [("k0", "new", [0.0, 0.0, 0.0, 1.0])],
        "id string, chunk string, vector array<float>")
    w.insert_data(upd, batch_ts=2)
    assert w._ivf_needs_staleness_join() is True
    got = {r["id"]: r["score"] for r in w.search(
        DenseSearchRequest(query_vector=[0.0, 0.0, 0.0, 1.0], metric="COSINE",
                           limit=20, output_fields=()),
        use_index=True).collect()}
    exact = {r["id"]: r["score"] for r in w.search(
        DenseSearchRequest(query_vector=[0.0, 0.0, 0.0, 1.0], metric="COSINE",
                           limit=20, output_fields=())).collect()}
    assert got == exact  # one entry per key, k0 at its NEW vector's score


def test_snapshot_isolation_hides_incomplete_batches(spark, tmp_path_factory):
    """r8 batch-visibility watermark: read_collection shows a batch only
    after its data write COMPLETED (last_complete_ts advances strictly
    after the parquet commit), so a reader racing a multi-file append —
    or a crashed write's stray files — never sees partial data; flush
    then drops the strays for good (the burned-ts retry contract)."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_snap")))
    cat.set_vector_store("ts1")
    cat.generate_schema(CollectionSpec("ts1", "m", dimension=2))
    w = CollectionWriter(cat, "ts1", "m")
    b1 = spark.createDataFrame([("a", "v1", [1.0, 0.0])],
                               "id string, chunk string, vector array<float>")
    w.insert_data(b1, batch_ts=1, auto_flush_min_batch=-1)
    assert cat.describe_collection("ts1", "m")["last_complete_ts"] == 1

    # simulate a torn/crashed append: data files land with ts=2 but the
    # completion watermark never advances (process died mid-commit)
    path = cat.describe_collection("ts1", "m")["path"]
    existing_cols = [f.name for f in spark.read.parquet(path).schema.fields]
    torn = spark.createDataFrame(
        [("b", "torn", [0.0, 1.0], 2)],
        "id string, chunk string, vector array<float>, batch_ts int")
    aligned = torn.select(*[torn[c] if c in torn.columns
                            else F.lit(None).cast("string").alias(c)
                            for c in existing_cols])
    aligned.write.mode("append").parquet(path)

    # invisible to every reader path
    assert {r["id"] for r in cat.read_collection("ts1", "m").collect()} == {"a"}
    assert {r["id"] for r in w.read_latest().collect()} == {"a"}
    # a subsequent COMPLETE batch (fresh, larger ts per the retry
    # contract) becomes visible; the stray stays hidden
    b3 = spark.createDataFrame([("c", "v3", [0.5, 0.5])],
                               "id string, chunk string, vector array<float>")
    w.insert_data(b3, batch_ts=3, auto_flush_min_batch=-1)
    assert {r["id"] for r in w.read_latest().collect()} == {"a", "c"}
    # flush compacts through the snapshot: the stray is physically dropped
    w.flush()
    on_disk = {r["id"] for r in spark.read.parquet(path).collect()}
    assert on_disk == {"a", "c"}


def test_read_cache_invalidated_by_every_write_path(spark, tmp_path_factory,
                                                    monkeypatch):
    """Searches reuse their parquet scans while the files are unchanged
    (sources/tables.read_parquet). Every write path must still be seen:
    after insert_data, flush (with the old generation swept),
    build_index and build_sparse_index a search returns the new rows and
    never trips over a deleted file."""
    import os

    import numpy as np

    import flouds_vectordb_spark.operators.upsert as upsert_mod
    from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest
    from flouds_vectordb_spark.operators.hybrid_search import HybridSearchRequest
    from flouds_vectordb_spark.operators.sparse_search import SparseSearchRequest

    monkeypatch.setattr(upsert_mod, "GENERATION_GRACE_SECONDS", 0.0)
    dim = 4
    rng = np.random.RandomState(31)
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_rc")))
    cat.set_vector_store("trc")
    cat.generate_schema(CollectionSpec("trc", "m", dimension=dim, nlist=2))
    w = CollectionWriter(cat, "trc", "m")
    ddl = "id string, chunk string, vector array<double>"

    def vec():
        return [float(x) for x in rng.standard_normal(dim)]

    w.insert_data(spark.createDataFrame(
        [(f"r{i}", f"row {i} common", vec()) for i in range(30)], ddl),
        batch_ts=1, force_flush=True)
    w.build_index()
    w.build_sparse_index()

    def sees(key, v, token):
        """key is the top dense/IVF/batched hit for its own vector and the
        only BM25 hit for its own token; hybrid ranks it first."""
        req = DenseSearchRequest(query_vector=v, limit=3, nprobe=4,
                                 score_threshold=None, output_fields=())
        for use_index in (False, True):
            top = w.search(req, use_index=use_index).collect()
            assert top and top[0]["id"] == key, (key, use_index)
        many = w.search_many([(0, v)], req, use_index=True).collect()
        assert min(many, key=lambda r: r["rank"])["id"] == key
        sp = w.search_sparse(SparseSearchRequest(query_text=token, limit=3),
                             use_index=True).collect()
        assert [r["id"] for r in sp] == [key]
        hy = w.search_hybrid(HybridSearchRequest(
            query_vector=v, text_filter=token, limit=3, output_fields=()),
            use_index=True).collect()
        assert min(hy, key=lambda r: r["rank"])["id"] == key

    v0 = vec()
    w.insert_data(spark.createDataFrame([("r0", "tokzero common", v0)], ddl),
                  batch_ts=2, auto_flush_min_batch=-1)
    sees("r0", v0, "tokzero")  # warms every cached scan
    ts = 3
    # each step: an insert_data seen by the next search, then the write
    # path under test, then the same search again
    for step in ("flush", "flush", "build_index", "build_sparse_index"):
        v = vec()
        key, token = f"new{ts}", f"tok{ts}"
        w.insert_data(spark.createDataFrame([(key, f"{token} common", v)], ddl),
                      batch_ts=ts, auto_flush_min_batch=-1)
        sees(key, v, token)
        getattr(w, step)()
        sees(key, v, token)
        ts += 1
    assert len([d for d in os.listdir(w.meta["path"])
                if d.startswith("_gen-")]) == 2  # older generations swept


def test_insert_data_leaves_no_persisted_rdd(spark, tmp_path_factory):
    """insert_data pins its batch once for every path and releases the pin
    after both index appends — and on every raise path."""
    sc = spark.sparkContext

    def pinned():
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = pinned()
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_pin")))
    cat.set_vector_store("tpin")
    cat.generate_schema(CollectionSpec("tpin", "m", dimension=2, nlist=2))
    cat.generate_schema(CollectionSpec("tpin", "auto", dimension=2, nlist=2,
                                       primary_key_data_type="INT64"))
    ddl = "id string, chunk string, vector array<float>"
    w = CollectionWriter(cat, "tpin", "m")
    w.insert_data(spark.createDataFrame(
        [("a", "x y", [1.0, 0.0]), ("b", "y z", [0.0, 1.0]),
         ("c", "z x", [0.6, 0.8])], ddl), batch_ts=1, force_flush=True)
    w.build_index()
    w.build_sparse_index()
    assert pinned() == before

    res = w.insert_data(spark.createDataFrame(
        [("a", "x x", [0.8, 0.6]), ("d", "w", [0.1, 0.9])], ddl), batch_ts=2)
    assert res["sparse_indexed"] and res["dense_indexed"]
    assert pinned() == before
    with pytest.raises(ValueError, match="dimension"):
        w.insert_data(spark.createDataFrame([("e", "w", [1.0])], ddl), batch_ts=3)
    assert pinned() == before
    with pytest.raises(ValueError, match="duplicate"):
        w.insert_data(spark.createDataFrame(
            [("f", "w", [1.0, 0.0]), ("f", "v", [0.0, 1.0])], ddl), batch_ts=4)
    assert pinned() == before
    with pytest.raises(ValueError, match="not greater"):
        w.insert_data(spark.createDataFrame([("g", "w", [1.0, 0.0])], ddl),
                      batch_ts=2)
    assert pinned() == before

    wa = CollectionWriter(cat, "tpin", "auto")
    wa.insert_data(spark.createDataFrame([("p", [1.0, 0.0]), ("q", [0.0, 1.0])],
                                         "chunk string, vector array<float>"),
                   batch_ts=1)
    with pytest.raises(ValueError, match="dimension"):
        wa.insert_data(spark.createDataFrame([("r", [1.0])],
                                             "chunk string, vector array<float>"),
                       batch_ts=2)
    assert pinned() == before
