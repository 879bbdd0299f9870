"""The benchmark's workloads: `serve` (one client of the vector store) and
`curate` (one batch curation job). Both drive only the public API and time
every call from outside, through Tracer spans.

A workload returns a Result: its set-up time, the operations it attempted,
the correctness failures it found and the named metrics it reports beside
the contract metrics; the timed calls themselves are the Tracer's spans.
"""

from __future__ import annotations

import hashlib
import os
import statistics
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from inputs import COLLECTION_DDL, DIM, Inputs

K = 10


@dataclass
class Sizes:
    rows: int = 2000          # serve: collection rows
    nlist: int = 16
    nprobe: int = 4
    batch: int = 50           # serve: rows per upsert batch
    block: int = 64           # serve: queries per *_many block
    base_docs: int = 500      # curate: seeded base corpus ...
    replicas: int = 10        # ... scaled k-fold by gen_scale_corpus
    held_out: int = 20        # curate: held-out eval documents


TINY = Sizes(rows=120, nlist=4, nprobe=4, batch=6, block=4, base_docs=60,
             replicas=2, held_out=6)


@dataclass
class Result:
    setup_s: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    ops: list[str] = field(default_factory=list)   # span names that are timed ops
    units: int = 0                                 # work units for throughput
    detail: dict = field(default_factory=dict)     # name -> (value, unit)
    hashes: dict = field(default_factory=dict)     # curate: stage -> (rows, hash)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)


def ms(xs) -> float:
    return 1e3 * statistics.median(xs)


def p90_ms(xs) -> float:
    xs = sorted(xs)
    return 1e3 * xs[min(len(xs) - 1, int(round(0.9 * (len(xs) - 1))))]


def _dur(rec) -> float:
    return rec["end"] - rec["start"]


def _windows(tracer):
    """Timed windows: one, or with tracing enabled an untraced one and
    then a traced one (their difference is the tracing overhead)."""
    if not tracer.enabled:
        yield 0
        return
    tracer.on = False
    yield 0
    tracer.on = True
    yield 1


def _tree_bytes(paths) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------- serve ----

class Mirror:
    """The client's own copy of the latest rows, for numpy brute force."""

    def __init__(self):
        self.rows: dict[str, tuple] = {}

    def put(self, rows) -> None:
        for r in rows:
            self.rows[r[0]] = (np.asarray(r[2], dtype=np.float32), r[1], r[3])

    def cosine(self, q) -> tuple[list[str], np.ndarray]:
        ids = list(self.rows)
        m = np.stack([self.rows[i][0] for i in ids]).astype(np.float64)
        q = np.asarray(q, dtype=np.float64)
        s = m @ q / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
        return ids, s

    def top(self, q, k: int) -> tuple[list[str], dict[str, float]]:
        ids, s = self.cosine(q)
        order = sorted(range(len(ids)), key=lambda i: (-round(s[i], 6), ids[i]))
        return [ids[i] for i in order[:k]], dict(zip(ids, s))


def _rows(rows, score: str = "score") -> list[tuple]:
    return [(r["id"], int(r["rank"]), round(float(r[score]), 6))
            for r in sorted(rows, key=lambda r: int(r["rank"]))]


class Serve:
    """Closed loop, one client. A cycle is five seeded single requests
    (dense exact, dense IVF, dense with text+meta post-filter, BM25
    indexed, hybrid RRF indexed), then a 64-query dense, sparse and hybrid
    block, then a 50-row upsert (half updates, half new keys) followed by a
    read-your-writes IVF search and BM25 search over the un-compacted
    segments, then a flush. Cycles repeat until the timed calls have run
    for `seconds`; every cycle has the same composition, so the seed moves
    the requests and rows, not the mix."""

    SINGLES = ("dense", "ivf", "dense_filter", "sparse", "hybrid")
    BLOCKS = ("batch.dense", "batch.sparse", "batch.hybrid")

    def __init__(self, spark, tracer, work: str, seed: int, sizes: Sizes):
        self.spark, self.tr, self.work, self.seed, self.sz = (
            spark, tracer, work, seed, sizes)
        self.res = Result()
        self.mirror = Mirror()
        self.recall: list[float] = []

    # ---- setup -------------------------------------------------------------
    def build(self):
        from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
        from flouds_vectordb_spark.operators.upsert import CollectionWriter

        tr, sz = self.tr, self.sz
        with tr.span("setup") as rec:
            inp = Inputs(self.seed)
            rows = inp.rows(range(sz.rows))
            with tr.span("catalog.ddl"):
                cat = Catalog(self.spark, os.path.join(self.work, "wh"))
                cat.set_vector_store("bench")
                cat.generate_schema(CollectionSpec(
                    "bench", "m64", dimension=DIM, metric_type="COSINE",
                    index_type="IVF_FLAT", nlist=sz.nlist))
                w = CollectionWriter(cat, "bench", "m64")
            with tr.span("upsert.bulk_insert"):
                w.insert_data(self.spark.createDataFrame(rows, COLLECTION_DDL),
                              batch_ts=1, force_flush=True)
            with tr.span("upsert.build_index"):
                w.build_index()
            with tr.span("upsert.build_sparse_index"):
                w.build_sparse_index()
        self.res.setup_s = _dur(rec)
        return w, inp, rows

    def run(self, seconds: float) -> Result:
        w, inp, rows = self.build()
        with self.tr.span("catalog.describe"):
            w.catalog.describe_collection("bench", "m64")
        self.w, self.inp = w, inp
        self.mirror.put(rows)
        self.next_key, self.ts = self.sz.rows, 2
        cycle = 0
        for _ in _windows(self.tr):
            busy, first = 0.0, cycle
            while cycle == first or busy < seconds:
                busy += self.cycle(cycle)
                cycle += 1
        self.finish(cycle)
        return self.res

    # ---- one timed call ----------------------------------------------------
    def call(self, name: str, build, collect=True):
        """Time build() (plan construction) and, when collect, the action."""
        self.res.attempted += 1
        self.res.ops.append(name)
        with self.tr.span(name, op=True) as rec:
            with self.tr.span(name + ".build"):
                df = build()
            if collect:
                with self.tr.span(name + ".exec"):
                    out = df.collect()
            else:
                out = df
        return out, _dur(rec)

    def cycle(self, c: int) -> float:
        from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest
        from flouds_vectordb_spark.operators.hybrid_search import HybridSearchRequest
        from flouds_vectordb_spark.operators.sparse_search import SparseSearchRequest

        w, inp, sz, res = self.w, self.inp, self.sz, self.res
        busy = 0.0
        sent = {}
        # a fixed class order: the first request of a class in a fresh JVM
        # pays its code generation, and a seeded order would move that cost
        # between classes from seed to seed
        for kind in self.SINGLES:
            qv, qt = inp.query_vector(), inp.query_text()
            if kind == "dense":
                req = DenseSearchRequest(query_vector=qv, limit=K,
                                         score_threshold=None, output_fields=())
                rows, t = self.call(kind, lambda: w.search(req))
                self.check_exact(qv, rows, kind)
            elif kind == "ivf":
                req = DenseSearchRequest(query_vector=qv, limit=K, nprobe=sz.nprobe,
                                         score_threshold=None, output_fields=())
                rows, t = self.call(kind, lambda: w.search(req, use_index=True))
                self.check_ann(qv, rows, kind)
                sent[kind] = (qv, _rows(rows))
            elif kind == "dense_filter":
                req = DenseSearchRequest(query_vector=qv, limit=K,
                                         score_threshold=None,
                                         text_filter=inp.filter_text(),
                                         meta_filter={"tier": "gold"},
                                         output_fields=("chunk", "meta"))
                rows, t = self.call(kind, lambda: w.search(
                    req, chunk_col="chunk", meta_col="meta"))
                self.check_filtered(qv, req.fetch, rows)
            elif kind == "sparse":
                req = SparseSearchRequest(query_text=qt, limit=K)
                rows, t = self.call(kind, lambda: w.search_sparse(req, use_index=True))
                got = _rows(rows)
                res.check(len(got) > 0, "sparse: no hits")
                if c == 0:
                    ref = _rows(w.search_sparse(req, use_index=False).collect())
                    res.check(got == ref, "sparse: indexed != use_index=False")
                sent[kind] = (qt, got)
            else:
                req = HybridSearchRequest(query_vector=qv, text_filter=qt, limit=K,
                                          output_fields=())
                rows, t = self.call(kind, lambda: w.search_hybrid(req, use_index=True))
                got = _rows(rows, "rrf_score")
                res.check(len(got) == K, "hybrid: short result")
                if c == 0:
                    ref = _rows(w.search_hybrid(req, use_index=False).collect(),
                                "rrf_score")
                    res.check(got == ref, "hybrid: indexed != use_index=False")
                sent[kind] = ((qv, qt), got)
            busy += t
        for kind in self.BLOCKS:
            busy += self.block(kind, sent)
        busy += self.upsert()
        _, t = self.call("upsert.flush", lambda: w.flush(), collect=False)
        return busy + t

    def block(self, kind: str, sent: dict) -> float:
        """One *_many block; qid 0 re-sends this cycle's single request of
        the same kind, whose answer the block must reproduce."""
        from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest
        from flouds_vectordb_spark.operators.hybrid_search import HybridSearchRequest
        from flouds_vectordb_spark.operators.sparse_search import SparseSearchRequest

        w, inp, sz, res = self.w, self.inp, self.sz, self.res
        n = sz.block
        mark = self.tr.log_mark()
        if kind == "batch.dense":
            q0, single = sent["ivf"]
            qs = [(0, q0)] + [(i, inp.query_vector()) for i in range(1, n)]
            req = DenseSearchRequest(query_vector=q0, limit=K, nprobe=sz.nprobe,
                                     score_threshold=None, output_fields=())
            rows, t = self.call(kind, lambda: w.search_many(qs, req, use_index=True))
            for qid, qv in qs[1:]:
                self.check_ann(qv, [r for r in rows if r["qid"] == qid], kind)
            score = "score"
        elif kind == "batch.sparse":
            q0, single = sent["sparse"]
            qs = [(0, q0)] + [(i, inp.query_text()) for i in range(1, n)]
            req = SparseSearchRequest(query_text="", limit=K)
            rows, t = self.call(kind, lambda: w.search_sparse_many(qs, req))
            score = "score"
        else:
            (qv0, qt0), single = sent["hybrid"]
            qs = [(0, qv0, qt0)] + [(i, inp.query_vector(), inp.query_text())
                                    for i in range(1, n)]
            req = HybridSearchRequest(query_vector=qv0, text_filter="", limit=K,
                                      output_fields=())
            rows, t = self.call(kind, lambda: w.search_hybrid_many(qs, req))
            score = "rrf_score"
        self.tr.count_fallbacks("batch", mark)
        got = _rows([r for r in rows if r["qid"] == 0], score)
        res.check(got == single, f"{kind}: block answer != single request")
        res.check(len({r["qid"] for r in rows}) > n // 2, f"{kind}: qids missing")
        return t

    def upsert(self) -> float:
        """A 50-row batch, half updates of existing keys and half new keys,
        then read-your-writes: an IVF search for a new row's own vector and
        a BM25 search for a token only that row carries."""
        from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest
        from flouds_vectordb_spark.operators.sparse_search import SparseSearchRequest

        w, inp, sz, res = self.w, self.inp, self.sz, self.res
        keys = inp.upsert_keys(sz.batch, self.next_key, self.next_key, 0.5)
        self.next_key += sz.batch - int(round(sz.batch * 0.5))
        rows = inp.rows(keys)
        marker = f"fresh{self.ts}"
        probe = rows[-1]
        rows[-1] = (probe[0], probe[1] + " " + marker, probe[2], probe[3])
        ts = self.ts
        self.ts += 1
        _, t = self.call("upsert.insert_data", lambda: w.insert_data(
            self.spark.createDataFrame(rows, COLLECTION_DDL), batch_ts=ts,
            auto_flush_min_batch=-1), collect=False)
        self.mirror.put(rows)
        busy = t
        req = DenseSearchRequest(query_vector=probe[2], limit=K, nprobe=sz.nprobe,
                                 score_threshold=None, output_fields=())
        got, t = self.call("ivf.fresh", lambda: w.search(req, use_index=True))
        busy += t
        self.check_ann(probe[2], got, "ivf.fresh")
        res.check(bool(got) and _rows(got)[0][0] == probe[0],
                  "ivf.fresh: own row not first")
        sreq = SparseSearchRequest(query_text=marker, limit=K)
        got, t = self.call("sparse.fresh", lambda: w.search_sparse(sreq, use_index=True))
        busy += t
        res.check([r[0] for r in _rows(got)] == [probe[0]],
                  "sparse.fresh: marker row not found")
        return busy

    # ---- checks ------------------------------------------------------------
    def check_exact(self, qv, rows, what: str) -> None:
        got = _rows(rows)
        want, score = self.mirror.top(qv, K)
        kth = score[want[-1]]
        self.res.check(len(got) == K, f"{what}: {len(got)} rows")
        self.res.check(all(abs(s - score[i]) <= 2e-6 and score[i] >= kth - 2e-6
                           for i, _, s in got), f"{what}: not the exact top-{K}")

    def check_ann(self, qv, rows, what: str) -> None:
        got = _rows(rows)
        want, score = self.mirror.top(qv, K)
        self.res.check(len(got) == K and all(abs(s - score[i]) <= 2e-6
                                             for i, _, s in got),
                       f"{what}: wrong rows or scores")
        self.recall.append(len({i for i, _, _ in got} & set(want)) / K)

    def check_filtered(self, qv, fetch: int, rows) -> None:
        got = _rows(rows)
        pool, score = self.mirror.top(qv, fetch)
        self.res.check(all(i in pool and abs(s - score[i]) <= 2e-6
                           and self.mirror.rows[i][2]["tier"] == "gold"
                           for i, _, s in got), "dense_filter: row outside filter")

    def finish(self, cycles: int) -> None:
        """Untimed end-of-run checks and the serve detail metrics."""
        w, res, tr = self.w, self.res, self.tr
        res.attempted += 1
        live = w.read_latest().count()
        res.check(live == len(self.mirror.rows),
                  f"live rows {live} != {len(self.mirror.rows)}")
        base = w.meta["path"]
        parent = os.path.dirname(base)
        disk = _tree_bytes(os.path.join(parent, d) for d in os.listdir(parent)
                           if d.startswith(os.path.basename(base)))
        singles = [d for s in self.SINGLES for d in tr.durations(s)]
        blocks = [d for b in self.BLOCKS for d in tr.durations(b)]
        ups = tr.durations("upsert.insert_data")
        fresh = tr.durations("ivf.fresh") + tr.durations("sparse.fresh")
        res.units = len(res.ops)
        res.detail = {
            "cycles": (cycles, "count"),
            "search_p50_ms": (ms(singles), "ms"),
            "search_p90_ms": (p90_ms(singles), "ms"),
            "search_qps": (len(singles) / sum(singles), "1/s"),
            "batch_qps": (self.sz.block * len(blocks) / sum(blocks), "1/s"),
            "recall_at_10": (float(np.mean(self.recall)), "ratio"),
            "upsert_p50_ms": (ms(ups), "ms"),
            "ingest_rows_per_s": (self.sz.batch * len(ups) / sum(ups), "1/s"),
            "fresh_search_p50_ms": (ms(fresh), "ms"),
            "flush_p50_ms": (ms(tr.durations("upsert.flush")), "ms"),
            "disk_bytes_per_row": (disk / max(live, 1), "B"),
        }


# --------------------------------------------------------------- curate ----

class Curate:
    """One batch job over a seeded corpus: lang_id -> gopher_quality ->
    dedup_minhash(output="components") -> decontaminate (seeded held-out
    set) -> pack_sequences, each stage through the `noop` sink. A first
    pass warms the plans and checks every stage's output; timed passes then
    repeat until they have run for `seconds`."""

    STAGES = ("lang_id", "gopher_quality", "dedup_minhash", "decontaminate",
              "pack_sequences")

    def __init__(self, spark, tracer, work: str, seed: int, sizes: Sizes):
        self.spark, self.tr, self.work, self.seed, self.sz = (
            spark, tracer, work, seed, sizes)
        self.res = Result()

    def build(self):
        from scripts.gen_scale_corpus import scaled_documents

        sz = self.sz
        base = os.path.join(self.work, "corpus", "base")
        out = os.path.join(self.work, "corpus", f"x{sz.replicas}", "documents.parquet")
        with self.tr.span("setup") as rec:
            inp = Inputs(self.seed)
            texts, copies = inp.write_base_corpus(
                os.path.join(base, "documents.parquet"), sz.base_docs)
            with self.tr.span("corpus.write"):
                scaled_documents(self.spark, base, sz.replicas).write.mode(
                    "overwrite").parquet(out)
            held, copied = inp.held_out(texts, sz.held_out)
        self.res.setup_s = _dur(rec)
        return out, held, copied, copies

    def stages(self, docs, held):
        from flouds_vectordb_spark.functions.langid import lang_id
        from flouds_vectordb_spark.operators.chunking import pack_sequences
        from flouds_vectordb_spark.operators.dedup import decontaminate, dedup_minhash
        from flouds_vectordb_spark.operators.text_analysis import gopher_quality

        by_id = docs.select(F.col("doc_id").alias("id"), "text")
        return {
            "lang_id": lambda: lang_id(by_id),
            "gopher_quality": lambda: gopher_quality(docs, id_col="doc_id"),
            "dedup_minhash": lambda: dedup_minhash(
                docs, id_col="doc_id", jaccard_threshold=0.5, output="components"),
            "decontaminate": lambda: decontaminate(by_id, held, n=8),
            "pack_sequences": lambda: pack_sequences(docs, seq_len=1024,
                                                     id_col="doc_id"),
        }

    def run(self, seconds: float) -> Result:
        path, held_rows, copied, copies = self.build()
        docs = self.spark.read.parquet(path)
        held = self.spark.createDataFrame(held_rows, "id long, text string")
        n_docs = self.sz.base_docs * self.sz.replicas
        stages = self.stages(docs, held)
        self.check_pass(stages, n_docs, copied, copies)
        busy, passes = 0.0, 0
        for window in _windows(self.tr):
            first = passes
            while passes == first or busy < seconds * (window + 1):
                busy += self.one_pass(stages)
                passes += 1
        self.res.units = n_docs * passes
        self.res.detail = {
            "passes": (passes, "count"),
            "docs": (n_docs, "count"),
            "curate_docs_per_s": (n_docs * passes / busy, "1/s"),
            **{f"{s}_p50_ms": (ms(self.tr.durations(s)), "ms") for s in self.STAGES},
        }
        return self.res

    def one_pass(self, stages) -> float:
        busy = 0.0
        for name in self.STAGES:
            self.res.attempted += 1
            self.res.ops.append(name)
            with self.tr.span(name, op=True) as rec:
                with self.tr.span(name + ".build"):
                    df = stages[name]()
                with self.tr.span(name + ".exec"):
                    df.write.format("noop").mode("overwrite").save()
            busy += _dur(rec)
        return busy

    def check_pass(self, stages, n_docs: int, copied, copies) -> None:
        """The warm-up pass: every stage's rows are collected once, for
        their count and an order-insensitive digest (printed, so runs of one
        seed can be compared) and for what the seeded corpus lets us know
        in advance."""
        res = self.res
        for name in self.STAGES:
            res.attempted += 1
            rows = [r.asDict() for r in stages[name]().collect()]
            digest = hashlib.sha256("\n".join(sorted(
                repr(sorted(r.items())) for r in rows)).encode()).hexdigest()
            res.hashes[name] = (len(rows), digest[:16])
            if name in ("lang_id", "gopher_quality"):
                res.check(len(rows) == n_docs,
                          f"{name}: {len(rows)} rows, want {n_docs}")
            elif name == "dedup_minhash":
                # a verbatim copy has Jaccard 1 under any shingling, so it
                # must share a component with its source
                label = {r["id"]: r["component_id"] for r in rows}
                res.check(all(c in label and label.get(c) == label.get(s)
                              for c, s in copies), "dedup_minhash: planted copy missed")
            elif name == "decontaminate":
                res.check(set(copied) <= {r["id"] for r in rows},
                          "decontaminate: held-out copy not flagged")
            else:
                packed = len({r["id"] for r in rows})
                res.check(packed == n_docs, f"pack_sequences: {packed} docs packed")
