"""SQ8/PQ quantized execution: encode invariants, scoring equivalence,
storage round-trips, and the catalog IVF_SQ8/IVF_PQ index dispatch."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest, dense_search
from flouds_vectordb_spark.plans.pq import (
    PqCodebook,
    build_pq,
    get_or_build_pq_anchors,
    open_pq,
    pq_adc_scores,
    pq_decoded_column,
    pq_encode_column,
    pq_encode_udf,
    pq_lut,
    pq_search,
    train_pq_anchors,
    train_pq_kmeans,
)
from flouds_vectordb_spark.plans.sq8 import (
    build_sq8,
    encode_sq8,
    open_sq8,
    sq8_decoded_column,
    sq8_scores_arrow,
    train_sq8_bounds,
)

DIM = 8


@pytest.fixture(scope="module")
def coll(spark):
    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.uniform(-2, 2, DIM)]) for i in range(300)]
    # one constant dimension exercises the step=0 path
    rows = [(i, v[:-1] + [1.25]) for i, v in rows]
    return spark.createDataFrame(rows, "id long, vector array<double>")


def test_sq8_codes_shape_and_reconstruction_error(spark, coll):
    mins, steps = train_sq8_bounds(coll, DIM)
    assert steps[-1] == 0.0  # constant dimension
    enc = encode_sq8(coll, mins, steps)
    rows = enc.collect()
    assert all(len(r["codes"]) == DIM for r in rows)  # 1 byte per dim at rest
    dec = {r["id"]: r["vector"] for r in enc.withColumn(
        "vector", sq8_decoded_column(F.col("codes"), mins, steps)).collect()}
    orig = {r["id"]: r["vector"] for r in coll.collect()}
    for i, v in orig.items():
        for j, (x, xhat) in enumerate(zip(v, dec[i])):
            tol = steps[j] / 2 + 1e-12  # max quantization error
            assert abs(x - xhat) <= tol, (i, j, x, xhat)
        assert dec[i][-1] == mins[-1]  # constant dim decodes to its min


def test_sq8_arrow_scorer_matches_jvm_path(spark, coll):
    from flouds_vectordb_spark.functions.vector import metric_score_q

    mins, steps = train_sq8_bounds(coll, DIM)
    enc = encode_sq8(coll, mins, steps)
    q = [0.3, -1.2, 0.8, 0.0, 1.5, -0.4, 0.9, 1.0]
    for metric in ("COSINE", "L2", "IP"):
        jvm = {r["id"]: r["s"] for r in enc.select(
            "id", F.round(metric_score_q(
                metric, sq8_decoded_column(F.col("codes"), mins, steps), q),
                9).alias("s")).collect()}
        arw = {r["id"]: r["s"] for r in enc.select(
            "id", F.round(sq8_scores_arrow(mins, steps, q, metric)(
                F.col("codes")), 9).alias("s")).collect()}
        assert jvm == arw, metric


def test_sq8_build_open_roundtrip(spark, coll, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sq8") / "idx")
    mins, steps = build_sq8(coll, path, DIM)
    assert (mins, steps) == open_sq8(path)
    assert spark.read.parquet(path).count() == 300


def test_pq_jvm_codes_match_numpy_argmin(spark, coll):
    cb = train_pq_anchors(coll, m=4, k=8, metric="L2")
    got = {r["id"]: list(r["codes"]) for r in coll.select(
        "id", pq_encode_column(F.col("vector"), cb).alias("codes")).collect()}
    subs = [np.array(s) for s in cb.sub]
    d = cb.dsub
    for r in coll.collect():
        x = np.array(r["vector"], dtype=np.float64)
        want = [int(((subs[j] - x[j * d:(j + 1) * d]) ** 2).sum(axis=1).argmin())
                for j in range(cb.m)]
        assert got[r["id"]] == want, r["id"]


def test_pq_adc_equals_reconstruction_dot(spark, coll):
    """ADC gathers per-subspace LUT contributions; summed they must equal
    the score of the reconstructed vector (same math, different float
    association -> tolerance, not bit-equality)."""
    q = [0.3, -1.2, 0.8, 0.0, 1.5, -0.4, 0.9, 1.0]
    cb = train_pq_anchors(coll, m=4, k=8, metric="IP")
    codes = pq_encode_column(F.col("vector"), cb)
    rows = coll.select(
        "id", pq_adc_scores(codes, cb, q).alias("adc"),
        pq_decoded_column(codes, cb, codes_are_binary=False).alias("rec"),
    ).collect()
    for r in rows:
        want = float(np.dot(np.array(r["rec"]), np.array(q)))
        assert abs(r["adc"] - want) < 1e-9


def test_pq_binary_pack_roundtrip(spark, coll, tmp_path_factory):
    from flouds_vectordb_spark.plans.pq import pq_pack_codes

    cb = train_pq_anchors(coll, m=4, k=8, metric="L2")
    arr = pq_encode_column(F.col("vector"), cb)
    both = coll.select("id", arr.alias("a"),
                       pq_pack_codes(arr, cb.m).alias("b")).collect()
    for r in both:
        assert list(r["b"]) == list(r["a"])  # bytes == int codes
        assert len(r["b"]) == cb.m  # m bytes at rest


def test_pq_anchors_build_matches_inline(spark, coll, tmp_path_factory):
    q = [0.3, -1.2, 0.8, 0.0, 1.5, -0.4, 0.9, 1.0]
    path = str(tmp_path_factory.mktemp("pq") / "idx")
    cb = get_or_build_pq_anchors(coll, path, m=4, k=8, metric="COSINE")
    coded = spark.read.parquet(path)
    stored = [(r["id"], r["rank"], r["score"]) for r in
              pq_search(coded, cb, q, 10, codes_col="codes").collect()]
    inline = [(r["id"], r["rank"], r["score"]) for r in
              pq_search(coll, cb, q, 10).collect()]
    assert stored == inline
    # reopen from sidecar gives the same codebook
    assert open_pq(path) == cb


def test_pq_kmeans_recall_on_separable_data(spark):
    """kmeans-codebook PQ must rank an exact duplicate of the query first:
    with well-separated clusters the query's codes equal its duplicate's
    codes and the ADC score dominates."""
    rng = np.random.RandomState(5)
    centers = rng.uniform(-10, 10, (6, DIM))
    rows = []
    for i in range(240):
        c = centers[i % 6]
        rows.append((i, [float(x) for x in c + rng.normal(0, 0.05, DIM)]))
    target = [float(x) for x in centers[2]]
    rows.append((999, target))
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    cb = train_pq_kmeans(df, m=4, k=16, metric="L2")
    top = pq_search(df, cb, target, 3).collect()
    # ADC L2 score of the duplicate = -(query-to-centroid residual)^2:
    # near zero (cluster spread 0.05), never exactly zero
    assert top[0]["id"] == 999 and top[0]["score"] > -0.1


def test_pq_kmeans_storage_roundtrip(spark, tmp_path_factory):
    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.uniform(-1, 1, DIM)]) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    path = str(tmp_path_factory.mktemp("pqk") / "idx")
    cb = build_pq(df, path, m=4, k=16, metric="IP")
    coded = spark.read.parquet(path)
    assert coded.count() == 120
    # stored binary codes equal a fresh UDF encode
    fresh = {r["id"]: bytes(r["c"]) for r in df.select(
        "id", pq_encode_udf(cb)(F.col("vector")).alias("c")).collect()}
    stored = {r["id"]: bytes(r["codes"]) for r in coded.collect()}
    assert fresh == stored
    assert open_pq(path) == cb


def test_catalog_quantized_index_dispatch(spark, tmp_path_factory):
    """generate_schema(index_type=IVF_SQ8/IVF_PQ) builds real coded tables
    and search(use_index=True) runs the quantized path: approximate scores,
    exact nearest neighbor still first on separated data, payload intact."""
    from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    rng = np.random.RandomState(3)
    for itype in ("IVF_SQ8", "IVF_PQ"):
        cat = Catalog(spark, str(tmp_path_factory.mktemp(f"wh_{itype}")))
        cat.set_vector_store("tquant")
        cat.generate_schema(CollectionSpec("tquant", "m", dimension=DIM, nlist=4,
                                           metric_type="L2", index_type=itype))
        w = CollectionWriter(cat, "tquant", "m")
        rows = [(f"k{i}", f"chunk {i}",
                 [float(x) for x in rng.uniform(-5, 5, DIM)])
                for i in range(150)]
        target = [float(x) + 20.0 for x in range(DIM)]  # far-out easy NN
        rows.append(("hit", "the needle", target))
        b = spark.createDataFrame(rows, "id string, chunk string, vector array<float>")
        w.insert_data(b, batch_ts=1, force_flush=True)
        w.build_index()
        req = DenseSearchRequest(query_vector=target, metric="L2", limit=3,
                                 nprobe=4)
        got = w.search(req, use_index=True, id_col="id", vector_col="vector",
                       chunk_col="chunk").collect()
        assert got[0]["id"] == "hit" and got[0]["chunk"] == "the needle", itype
        # quantized scores approximate the exact ones
        exact = dense_search(w.read_latest(), req, id_col="id",
                             vector_col="vector").collect()
        assert abs(got[0]["score"] - exact[0]["score"]) < 1.0, itype


def test_pq_codebook_validation():
    with pytest.raises(ValueError, match="not divisible"):
        PqCodebook.from_rows([[1.0, 2.0, 3.0]], m=2, metric="IP")
    lut = pq_lut(PqCodebook.from_rows([[1.0, 2.0], [3.0, 4.0]], m=2,
                                      metric="L2"), [0.0, 0.0])
    assert lut[0][0] == -1.0 and lut[1][1] == -16.0


def test_sq8_append_matches_rebuild_with_same_bounds(spark, coll, tmp_path_factory):
    from flouds_vectordb_spark.plans.sq8 import append_sq8

    first = coll.filter(F.col("id") < 200)
    rest = coll.filter(F.col("id") >= 200)
    path = str(tmp_path_factory.mktemp("sq8a") / "idx")
    mins, steps = build_sq8(first, path, DIM)
    append_sq8(rest, path)
    appended = {r["id"]: bytes(r["codes"]) for r in spark.read.parquet(path).collect()}
    # identical codes to encoding the whole corpus with the SAME bounds
    full = {r["id"]: bytes(r["codes"])
            for r in encode_sq8(coll, mins, steps).collect()}
    assert appended == full


def test_pq_append_matches_rebuild_with_same_codebook(spark, tmp_path_factory):
    from flouds_vectordb_spark.plans.pq import append_pq

    rng = np.random.RandomState(21)
    rows = [(i, [float(x) for x in rng.uniform(-1, 1, DIM)]) for i in range(160)]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    path = str(tmp_path_factory.mktemp("pqa") / "idx")
    cb = build_pq(df.filter(F.col("id") < 100), path, m=4, k=16, metric="L2")
    append_pq(df.filter(F.col("id") >= 100), path)
    appended = {r["id"]: bytes(r["codes"]) for r in spark.read.parquet(path).collect()}
    full = {r["id"]: bytes(r["c"]) for r in df.select(
        "id", pq_encode_udf(cb)(F.col("vector")).alias("c")).collect()}
    assert appended == full


def test_ivf_sq8_probe_is_partition_pruned_scan_of_codes(spark, coll, tmp_path_factory):
    """Scale guard for the composed IVF+SQ8 path: the probed scan must
    (a) prune partitions on centroid_id and (b) read ONLY (id, codes) for
    scoring — never a vector column."""
    from flouds_vectordb_spark.plans.ivf import build_ivf
    from flouds_vectordb_spark.plans.sq8 import sq8_decoded_column

    ivf_path = str(tmp_path_factory.mktemp("ivfq") / "ivf")
    idx = build_ivf(coll, ivf_path, nlist=4, metric="L2")
    sq8_path = str(tmp_path_factory.mktemp("ivfq") / "sq8")
    mins, steps = build_sq8(spark.read.parquet(ivf_path), sq8_path, DIM,
                            extra_cols=("centroid_id",))
    q = [0.0] * DIM
    cells = idx.probe_cells(q, 2)
    coded = spark.read.parquet(sq8_path).filter(F.col("centroid_id").isin(cells))
    dec = coded.withColumn("vector", sq8_decoded_column(F.col("codes"), mins, steps))
    out = dense_search(dec, DenseSearchRequest(query_vector=q, metric="L2", limit=5),
                       id_col="id", vector_col="vector")
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans, plan
    for ln in scans:
        assert "centroid_id" in ln  # partition filter reached the scan
        assert "ReadSchema" not in ln or "vector" not in ln.split("ReadSchema")[1]


def test_catalog_post_build_inserts_searchable_and_updates_fresh(
        spark, tmp_path_factory):
    """ADVICE r4 (stale-index window): rows inserted AFTER build_index must
    be searchable via the index (growing-segment contract), and an updated
    key must score against its NEW vector — the stale codes/rows of the old
    version are invisible via the latest-wins batch_ts resolution."""
    from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    rng = np.random.RandomState(5)
    for itype in ("IVF_FLAT", "IVF_SQ8", "IVF_PQ"):
        cat = Catalog(spark, str(tmp_path_factory.mktemp(f"whpb_{itype}")))
        cat.set_vector_store("tgrow")
        cat.generate_schema(CollectionSpec("tgrow", "m", dimension=DIM, nlist=4,
                                           metric_type="L2", index_type=itype))
        w = CollectionWriter(cat, "tgrow", "m")
        rows = [(f"k{i}", f"chunk {i}",
                 [float(x) for x in rng.uniform(-5, 5, DIM)])
                for i in range(120)]
        # "mover" starts near the origin, will be UPDATED to the far target
        rows.append(("mover", "v1", [0.0] * DIM))
        w.insert_data(
            spark.createDataFrame(rows, "id string, chunk string, vector array<float>"),
            batch_ts=1, force_flush=True)
        w.build_index()

        target = [5.0] * DIM  # inside the trained SQ8 range (no clamp noise)
        near_target = [4.9] * DIM
        b2 = spark.createDataFrame(
            [("newcomer", "post-build insert", near_target),
             ("mover", "v2", target)],
            "id string, chunk string, vector array<float>")
        res = w.insert_data(b2, batch_ts=2, force_flush=True)
        assert res["dense_indexed"] is True, itype

        req = DenseSearchRequest(query_vector=target, metric="L2", limit=2,
                                 nprobe=4)
        got = w.search(req, use_index=True, id_col="id", vector_col="vector",
                       chunk_col="chunk").collect()
        ids = [r["id"] for r in got]
        assert set(ids) == {"mover", "newcomer"}, (itype, ids)
        by_id = {r["id"]: r for r in got}
        # the updated key surfaces its NEW payload and scores ~0 (exact hit
        # modulo quantization error), not its stale origin vector
        assert by_id["mover"]["chunk"] == "v2", itype
        assert by_id["mover"]["score"] > -1.0, (itype, by_id["mover"]["score"])


def test_insert_after_build_adds_one_file_per_touched_cell(spark, tmp_path_factory):
    """insert_data's index maintenance writes the IVF layout and the SQ8/PQ
    coded tables by cell: a many-partition batch adds at most one file
    per cell to each of them."""
    from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    def cell_files(path):
        return {d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
                for d in os.listdir(path) if d.startswith("centroid_id=")}

    rng = np.random.RandomState(17)
    for itype, coded in (("IVF_FLAT", None), ("IVF_SQ8", "__sq8"), ("IVF_PQ", "__pq")):
        cat = Catalog(spark, str(tmp_path_factory.mktemp(f"whfrag_{itype}")))
        cat.set_vector_store("tfrag")
        cat.generate_schema(CollectionSpec("tfrag", "m", dimension=DIM, nlist=4,
                                           metric_type="L2", index_type=itype))
        w = CollectionWriter(cat, "tfrag", "m")
        rows = [(f"k{i}", f"chunk {i}", [float(x) for x in rng.uniform(-5, 5, DIM)])
                for i in range(160)]
        schema = "id string, chunk string, vector array<float>"
        w.insert_data(spark.createDataFrame(rows[:120], schema),
                      batch_ts=1, force_flush=True)
        w.build_index()
        paths = [w.meta["path"] + "__ivf"] + ([w.meta["path"] + coded] if coded else [])
        before = [cell_files(p) for p in paths]
        res = w.insert_data(spark.createDataFrame(rows[120:], schema).repartition(6),
                            batch_ts=2, force_flush=False)
        assert res["dense_indexed"] is True, itype
        for p, b in zip(paths, before):
            added = {c: n - b.get(c, 0) for c, n in cell_files(p).items()}
            assert set(added.values()) <= {0, 1} and sum(added.values()) >= 1, (p, added)


def test_sq8_bounds_training_chunked_wide_dim(spark):
    """VERDICT r5 #8: bounds training at dim >= 2048 must not blow codegen
    limits (2*dim agg expressions in one pass) — the chunked aggregation
    (SQ8_TRAIN_CHUNK dims/pass) trains exact bounds and round-trips codes."""
    from flouds_vectordb_spark.plans.sq8 import (
        SQ8_TRAIN_CHUNK,
        encode_sq8,
        sq8_decoded_column,
        train_sq8_bounds,
    )

    dim = 2048
    assert dim > SQ8_TRAIN_CHUNK  # exercises >1 chunk
    rng = np.random.RandomState(11)
    data = rng.uniform(-3, 3, (20, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "id long, vector array<float>")
    mins, steps = train_sq8_bounds(df, dim)
    x32 = data.astype(np.float32).astype(np.float64)
    assert np.allclose(mins, x32.min(axis=0))
    assert np.allclose(steps, (x32.max(axis=0) - x32.min(axis=0)) / 255.0)

    coded = encode_sq8(df, mins, steps)
    dec = coded.select("id", sq8_decoded_column(
        F.col("codes"), mins, steps).alias("v")).collect()
    got = np.array([r["v"] for r in sorted(dec, key=lambda r: r["id"])])
    # decode error bounded by half a quantization step per dimension
    assert np.max(np.abs(got - x32)) <= (np.max(steps) / 2) + 1e-9
