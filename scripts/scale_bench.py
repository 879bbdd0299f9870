"""Measure headline operator families on the scaled corpora (r9).

One invocation = one (operator, data_dir) measurement in a fresh JVM
with the Spark event log enabled; prints ONE JSON line:

  {"op": ..., "data_dir": ..., "rows_in": N, "rows_out": N,
   "build_sec": S|null, "query_sec": S,
   "shuffle_write_mb": MB, "shuffle_read_mb": MB, "tasks": N}

query_sec covers the operator's action only; shuffle bytes are summed
from the event log's TaskEnd metrics for tasks launched after the
measured action started, so input counting / warm-up traffic is
excluded. Fresh JVM per point keeps measurements independent (no JIT /
cache carry-over between scales).

Usage: python scripts/scale_bench.py <op> <data_dir>
Ops: dedup_minhash dedup_components exact_substring sparse_search_many
     hybrid_search_many pack_sequences dsir_resample hnsw_build
     hnsw_search
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _session(app: str, ev_dir: str) -> SparkSession:
    """get_spark's config (session.py) + the event log — the bench needs
    per-task shuffle metrics, which only the event log exposes."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{ev_dir}")
        # single uncompressed file so the parser below can stream it
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )


def _docs(spark, d):
    return spark.read.parquet(os.path.join(d, "documents.parquet"))


def _embs(spark, d):
    return spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))


def op_dedup_minhash(spark, d):
    from flouds_vectordb_spark.operators.dedup import dedup_minhash

    return dedup_minhash(_docs(spark, d), id_col="doc_id",
                         jaccard_threshold=0.5)


def op_dedup_components(spark, d):
    from flouds_vectordb_spark.operators.dedup import (
        dedup_components,
        dedup_minhash,
    )

    pairs = dedup_minhash(_docs(spark, d), id_col="doc_id",
                          jaccard_threshold=0.5)
    return dedup_components(pairs)


def op_dedup_minhash_components(spark, d):
    """The r10 fused cluster-output mode: labels over the verified
    near-dup graph without materializing the all-pairs list — compare
    against op_dedup_components (the quadratic pair-mode composition) on
    the same corpus."""
    from flouds_vectordb_spark.operators.dedup import dedup_minhash

    return dedup_minhash(_docs(spark, d), id_col="doc_id",
                         jaccard_threshold=0.5, output="components")


def op_exact_substring(spark, d):
    from flouds_vectordb_spark.operators.dedup import exact_substring_spans

    return exact_substring_spans(
        _docs(spark, d).select(F.col("doc_id").alias("id"), "text"), k=20)


def op_ngram_jaccard(spark, d):
    """Exact AllPairs/PPJoin n-gram Jaccard (no LSH approximation) — the
    r9 VERDICT ask #6 coverage row for the text near-dup family's exact
    variant."""
    from flouds_vectordb_spark.operators.dedup import dedup_ngram_jaccard

    return dedup_ngram_jaccard(_docs(spark, d), id_col="doc_id",
                               jaccard_threshold=0.5)


def op_repetition_full(spark, d):
    """Gopher-style full repetition stats (top n-gram char fraction +
    duplicate n-gram fraction for n in 2..4): the heaviest per-doc text
    quality scorer — per-position n-gram explode, scalars-only shuffles."""
    from flouds_vectordb_spark.operators.text_analysis import (
        repetition_stats_full,
    )

    return repetition_stats_full(_docs(spark, d), id_col="doc_id")


def op_bpe_train(spark, d):
    """Distributed BPE merge learning (10 rounds over the distinct-word
    working set) — one word-count agg + a pair-count agg per round."""
    from flouds_vectordb_spark.operators.bpe import bpe_train_df

    return bpe_train_df(_docs(spark, d), n_merges=10, text_col="text")


def op_similarity_join(spark, d):
    """Cross-collection cosine join (SRP-bucketed candidates, exact
    verify): embeddings vs a shifted probe subset, the gate fixture's
    shape at scale."""
    from flouds_vectordb_spark.operators.ann import similarity_join

    embs = spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
        "vec_id", "embedding")
    probes = (embs.filter(F.col("vec_id") % 23 == 0)
              .withColumn("vec_id", F.col("vec_id") + F.lit(900000000)))
    return similarity_join(embs, probes, tau=0.95, left_id="vec_id",
                           right_id="vec_id")


def op_sparse_search_many(spark, d):
    """Returns (build, query) — the postings table is a materialized index
    artifact in production (sparse_search.py:96-101 "write this bucketed by
    term"), so build time (tokenize + tf/df/weight shuffle) is measured
    separately from the 64-query batch that reads it."""
    from flouds_vectordb_spark.operators.sparse_search import (
        SparseSearchRequest,
        bm25_postings,
        sparse_search_many,
    )

    coll = _docs(spark, d).select(F.col("doc_id").alias("id"),
                                  F.col("text").alias("chunk"))

    def build():
        # the production index artifact: term-range-sorted parquet
        # (sparse_search.py:97-98 "write this bucketed by term"); the query
        # side's static term IN (...) prune then skips whole row groups.
        # r10: sized by the PRODUCTION path (CollectionWriter._term_sorted,
        # upsert.py — Catalyst scan estimate / 1.6 MB per range partition),
        # which ships the r9 measured fix: a fixed 32 sorts 31M rows per
        # partition at 5M docs and spills (227 s; ~256 partitions restore
        # the linear step at 102 s)
        from flouds_vectordb_spark.operators.upsert import CollectionWriter
        path = os.path.join(d, "bm25_postings")
        shutil.rmtree(path, ignore_errors=True)
        (CollectionWriter._term_sorted(bm25_postings(coll), src=coll)
         .write.mode("overwrite").parquet(path))
        return spark.read.parquet(path)

    def query(post):
        words = ["spark", "table", "query", "filter", "window", "stream",
                 "vector"]
        qs = [(i, f"{words[i % 7]} {words[(i + 3) % 7]} scan sort")
              for i in range(64)]
        return sparse_search_many(post, qs,
                                  SparseSearchRequest(query_text="", limit=10))

    return build, query


def op_sparse_rare(spark, d):
    """Same split shape as op_sparse_search_many but with LOW-df query
    terms (the per-replica perturbation tokens): isolates the index
    read path from candidate scoring — with stopword-class terms every
    query matches ~every document, so candidate volume (∝ Σ df), not
    the posting scan, dominates. Rare terms show the df-proportional
    cost a prebuilt posting table gives realistic Zipfian queries."""
    from flouds_vectordb_spark.operators.sparse_search import (
        SparseSearchRequest,
        bm25_postings,
        sparse_search_many,
    )

    coll = _docs(spark, d).select(F.col("doc_id").alias("id"),
                                  F.col("text").alias("chunk"))

    def build():
        path = os.path.join(d, "bm25_postings")
        if not os.path.exists(path):
            (bm25_postings(coll)
             .repartitionByRange(32, F.col("term"))
             .sortWithinPartitions("term")
             .write.mode("overwrite").parquet(path))
        return spark.read.parquet(path)

    def query(post):
        qs = [(i, f"w{13 + 97 * i} w{17 + 89 * i}") for i in range(64)]
        return sparse_search_many(post, qs,
                                  SparseSearchRequest(query_text="", limit=10))

    return build, query


def op_hybrid_search_many(spark, d):
    """Dense + sparse RRF over a derived collection: text from documents,
    vectors hash-derived per id (the fusion machinery's cost profile does
    not depend on where the vectors came from)."""
    from flouds_vectordb_spark.operators.hybrid_search import (
        HybridSearchRequest,
        hybrid_search_many,
    )

    docs = _docs(spark, d)
    coll = docs.select(
        F.col("doc_id").alias("id"), F.col("text").alias("chunk"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: (F.pmod(F.conv(F.substring(F.md5(
                F.concat_ws("|", F.col("doc_id").cast("string"),
                            i.cast("string"))), 1, 15), 16, 10)
                .cast("bigint"), F.lit(1000)).cast("double") / 500.0 - 1.0),
        ).alias("vector"))
    qv = [0.1 * ((i % 7) - 3) for i in range(16)]
    words = ["spark", "table", "query", "filter", "window", "stream", "vector"]
    qs = [(i, qv, f"{words[i % 7]} {words[(i + 2) % 7]} scan") for i in range(16)]
    return hybrid_search_many(
        coll, None, qs,
        HybridSearchRequest(query_vector=qv, text_filter="", limit=10))


def op_pack_sequences(spark, d):
    from flouds_vectordb_spark.operators.chunking import pack_sequences

    return pack_sequences(_docs(spark, d), seq_len=1024, id_col="doc_id")


def op_dsir_resample(spark, d):
    from flouds_vectordb_spark.operators.importance import dsir_resample

    docs = _docs(spark, d).select(F.col("doc_id").alias("id"), "text")
    target = docs.filter(F.col("id") % 101 == 0)
    n_keep = max(100, docs.count() // 10)
    return dsir_resample(docs, target, n_keep=n_keep)


def op_ppl_buckets(spark, d):
    """CCNet-style perplexity bands (self-trained unigram LM + bounded-
    quantization two-phase global rank): the heaviest text-quality family
    member with keyed shuffles (term agg + bucket-count broadcast)."""
    from flouds_vectordb_spark.operators.text_analysis import (
        perplexity_buckets,
    )

    return perplexity_buckets(_docs(spark, d), id_col="doc_id",
                              text_col="text")


def op_gopher_quality(spark, d):
    """Gopher quality rules — projection-only per-doc scorer (noop sink)."""
    from flouds_vectordb_spark.operators.text_analysis import gopher_quality

    return gopher_quality(_docs(spark, d), id_col="doc_id")


def op_url_domain_cap(spark, d):
    """Per-registered-domain cap over PSL extraction: URLs derive from
    (doc_id, source) exactly like the gate fixture, giving ~6x|sources|
    distinct domains — a REALISTIC heavy-tail skew (each domain's rows
    grow linearly with the corpus, so the per-domain window rank is the
    stage to watch at x1000)."""
    from flouds_vectordb_spark.operators.url_curation import domain_cap

    docs = _docs(spark, d).select("doc_id", "source")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 6
    url = (
        F.when(m == 0, F.concat(F.lit("https://www."), F.col("source"),
                                F.lit("-news.com/articles/"), sid))
        .when(m == 1, F.concat(F.lit("http://"), F.col("source"),
                               F.lit(".co.uk:8080/a?id="), sid))
        .when(m == 2, F.concat(F.lit("https://cdn."), F.col("source"),
                               F.lit("-media.org/file/"), sid))
        .when(m == 3, F.concat(F.lit("https://"), F.col("source"),
                               F.lit(".web.nagoya.jp/p/"), sid))
        .when(m == 4, F.concat(F.lit("http://docs."), F.col("source"),
                               F.lit(".pvt.k12.ma.us/x/"), sid))
        .otherwise(F.concat(F.lit("https://www."), F.col("source"),
                            F.lit(".net/p/"), sid))
    )
    return domain_cap(docs.select("doc_id", url.alias("url")), 1000,
                      url_col="url", key_col="doc_id", seed=5)


def op_decontaminate(spark, d):
    """Exact n-gram decontamination (GPT-3/PaLM rule): the test side is
    hashed once into a sorted driver array of distinct gram hashes; the
    train size alone picks the regime. x10 fits the driver bound (one
    train fetch, numpy membership count); x100 runs one map-side pass
    that keeps only each doc's held-out hits, so the exchange carries
    contaminated (id, gram-hash) scalars only."""
    from flouds_vectordb_spark.operators.dedup import decontaminate

    docs = _docs(spark, d).select(F.col("doc_id").alias("id"), "text")
    test = docs.filter(F.col("id") % 9973 == 0).select(
        (F.col("id") + 10_000_000_000).alias("id"), "text")
    return decontaminate(docs, test, n=8, min_matches=1)


def op_decon_neardup(spark, d):
    """Fuzzy train/test decontamination (r10): bipartite MinHash — test
    side (~1 per 9973 train docs, edited copies) broadcasts its band
    entries and shingle sets; train x train pairs are never formed."""
    from flouds_vectordb_spark.operators.dedup import decontaminate_neardup

    docs = _docs(spark, d).select("doc_id", "text")
    test = docs.filter(F.col("doc_id") % 9973 == 0).select(
        (F.col("doc_id") + 10_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" held out eval")).alias("text"))
    return decontaminate_neardup(docs, test, id_col="doc_id",
                                 text_col="text", jaccard_threshold=0.8)


def op_late_interaction(spark, d):
    """ColBERT MaxSim (r10): 8 consecutive vec_ids = one token bag; two
    8-token query bags broadcast into the doc-token scan; keyed
    exchanges carry one scalar per query-token x doc."""
    from flouds_vectordb_spark.operators.ann import late_interaction_topk

    toks = spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
        F.expr("vec_id div 8").alias("doc_id"),
        (F.col("vec_id") % 8).alias("pos"),
        F.col("embedding").alias("vector"))
    queries = toks.filter(F.col("doc_id").isin(3, 7)).withColumnRenamed(
        "doc_id", "qid")
    return late_interaction_topk(toks, queries, k=10)


def op_scrub_pii(spark, d):
    """PII scrub (r11 Arrow rewrite): ONE pandas_udf pass, precompiled
    per-class patterns, '@'/digit gates skipping PII-free docs — pure
    map, zero shuffle, noop-sinked like the other projection ops."""
    from flouds_vectordb_spark.operators.text_analysis import scrub_pii

    return scrub_pii(_docs(spark, d), id_col="doc_id")


def op_ngram_jaccard_08(spark, d):
    """θ=0.8 exact n-gram Jaccard — the regime the operator is documented
    for (the r10 θ=0.5 x100 run was the measured negative result: the
    AllPairs prefix filter's selectivity collapses at low θ)."""
    from flouds_vectordb_spark.operators.dedup import dedup_ngram_jaccard

    return dedup_ngram_jaccard(_docs(spark, d), id_col="doc_id",
                               jaccard_threshold=0.8)


def op_late_interaction_pruned(spark, d):
    """Late-interaction SERVING path (r11): per-token SRP candidate
    fetch over the scalar signature scan + exact MaxSim re-rank of
    candidate docs only — compare scan/shuffle against the exact
    operator's full crossJoin row (op_late_interaction)."""
    from flouds_vectordb_spark.operators.ann import late_interaction_topk_pruned

    toks = spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
        F.expr("vec_id div 8").alias("doc_id"),
        (F.col("vec_id") % 8).alias("pos"),
        F.col("embedding").alias("vector"))
    queries = toks.filter(F.col("doc_id").isin(3, 7)).withColumnRenamed(
        "doc_id", "qid")
    return late_interaction_topk_pruned(toks, queries, k=10, dim=64)


def op_late_interaction_ivf(spark, d):
    """Late-interaction serving with stage 2 through the stored IVF
    token index (r12, VERDICT ask #6): build the centroid-partitioned
    token table once per data dir, then a partition-pruned candidate
    fetch (probed cells only — bytes scale with nprobe/nlist, not
    corpus) + the shared exact re-rank. Compare scan/shuffle against
    op_late_interaction_pruned (the SRP signature path)."""
    from flouds_vectordb_spark.operators.ann import (
        build_li_ivf_index,
        late_interaction_topk_ivf,
    )

    toks = spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
        F.expr("vec_id div 8").alias("doc_id"),
        (F.col("vec_id") % 8).alias("pos"),
        F.col("embedding").alias("vector"))
    # nlist ~ sqrt(n_tokens) and a tight nprobe: a per-TOKEN fetch unions
    # cells across all 16 query tokens, so generous nprobe at small nlist
    # degenerates to a full scan (measured: nlist=256/nprobe=16 probed
    # ~every cell -> 63 MB shuffle, 27 s vs SRP's 1.6 MB / 12.4 s at x100)
    from flouds_vectordb_spark.operators.ann import li_ivf_index_fresh

    path = os.path.join(d, "__li_ivf_n1024") if os.access(d, os.W_OK) \
        else os.path.join("/tmp", "li_ivf_" + os.path.basename(d.rstrip("/")))
    if not li_ivf_index_fresh(path, os.path.join(d, "embeddings.parquet")):
        build_li_ivf_index(toks, path, nlist=1024)
    queries = toks.filter(F.col("doc_id").isin(3, 7)).withColumnRenamed(
        "doc_id", "qid")
    return late_interaction_topk_ivf(spark, path, toks, queries, k=10,
                                     nprobe=2)


def op_late_interaction_hnsw(spark, d):
    """Late-interaction serving with stage 2 through the token-level
    HNSW beam (r13, VERDICT ask #3): build the token graph once per data
    dir, then one batched beam per query token -> doc decode -> shared
    exact re-rank. Compare against op_late_interaction_pruned (SRP) and
    op_late_interaction_ivf — the three stage-2 fetchers."""
    from flouds_vectordb_spark.operators.ann import (
        build_li_hnsw_index,
        late_interaction_topk_hnsw,
        li_ivf_index_fresh,
    )

    toks = spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
        F.expr("vec_id div 8").alias("doc_id"),
        (F.col("vec_id") % 8).alias("pos"),
        F.col("embedding").alias("vector"))
    path = os.path.join(d, "__li_hnsw_m8") if os.access(d, os.W_OK) \
        else os.path.join("/tmp", "li_hnsw_" + os.path.basename(d.rstrip("/")))
    queries = toks.filter(F.col("doc_id").isin(3, 7)).withColumnRenamed(
        "doc_id", "qid")

    def build():
        if not li_ivf_index_fresh(path, os.path.join(d, "embeddings.parquet"),
                                  meta_name="_hnsw_meta.json"):
            build_li_hnsw_index(toks, path, m=8)
        return path

    def query(p):
        return late_interaction_topk_hnsw(spark, p, toks, queries, k=10,
                                          ef=32)

    return build, query


def op_compaction_flush(spark, d):
    """S4 at scale (r13, VERDICT ask #8): ingest the corpus as FOUR
    append batches (the segment state flush exists to compact), then
    measure flush — manifest-pointer commit of one deduped generation.
    build = DDL + 4 inserts; query = flush + the reader-visibility check
    (read_latest over the NEW generation). The new generation's on-disk
    bytes are printed to stderr for the PLANS scale row (output writes
    are not shuffle traffic, so the JSON's shuffle columns don't see
    them)."""
    from flouds_vectordb_spark.catalog import (
        Catalog,
        CollectionSpec,
        resolve_data_dir,
    )
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    wh = os.path.join(d if os.access(d, os.W_OK) else "/tmp",
                      "__flush_wh_" + os.path.basename(d.rstrip("/")))
    shutil.rmtree(wh, ignore_errors=True)
    embs = spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding").alias("vector"))

    def build():
        cat = Catalog(spark, wh)
        cat.set_vector_store("flush")
        cat.generate_schema(CollectionSpec("flush", "m64", dimension=64))
        w = CollectionWriter(cat, "flush", "m64")
        for b in range(4):
            # batch 4 re-sends batch 1's keys (UPDATES): flush's dedup
            # actually discards stale versions, not a pure copy
            part = embs.filter(
                F.pmod(F.hash("id"), F.lit(4)) == (0 if b == 3 else b))
            w.insert_data(part, batch_ts=b + 1, auto_flush_min_batch=-1,
                          skip_dim_validation=True)
        return w

    def query(w):
        w.flush()
        gen = resolve_data_dir(w.meta["path"])
        nbytes = sum(os.path.getsize(os.path.join(r, f))
                     for r, _, fs in os.walk(gen) for f in fs)
        print(f"flush_gen_bytes={nbytes} gen={os.path.basename(gen)}",
              file=sys.stderr)
        return w.read_latest()

    return build, query


def op_csv_ingest(spark, d):
    """CSV bulk-load parse+validate throughput in the MANY-FILES layout
    (multiLine files are unsplittable — parallelism = file count, the
    documented producer contract). Build = write the 32-file CSV layout
    once from docs ⋈ embeddings (cached in the data dir); query = RFC
    parse -> collection batch -> noop sink."""
    from flouds_vectordb_spark.sources.csv_ingest import (
        VECTOR_SEP,
        read_embedded_vectors_csv,
    )
    from flouds_vectordb_spark.sources.json_ingest import to_collection_batch

    src = os.path.join(d, "csv_ingest_src")

    def build():
        if not os.path.isdir(src):
            docs = _docs(spark, d).select("doc_id", "text")
            embs = spark.read.parquet(
                os.path.join(d, "embeddings.parquet"))
            rows = (docs.join(embs, docs.doc_id == embs.vec_id)
                    .select(F.col("doc_id").cast("string").alias("key"),
                            F.col("text").alias("chunk"),
                            F.lit("m64").alias("model"),
                            F.lit(None).cast("string").alias("metadata"),
                            F.array_join("embedding", VECTOR_SEP)
                            .alias("vector")))
            (rows.repartition(32).write.mode("overwrite")
             .option("header", "true").option("escape", '"').csv(src))
        return src

    def query(path):
        batch = to_collection_batch(read_embedded_vectors_csv(spark, path))
        batch.write.mode("overwrite").format("noop").save()
        return batch.select("id")

    return (build, query)


def op_lang_id(spark, d):
    """Cavnar–Trenkle language ID (r10 pure-map plan): the whole
    classification is one Arrow-batched UDF per input split — the raw
    gram stream never leaves its document row, the profile table is
    process-local module data, ZERO shuffle at any scale."""
    from flouds_vectordb_spark.functions.langid import lang_id

    return lang_id(_docs(spark, d).select(F.col("doc_id").alias("id"),
                                          "text"))


# projection-only ops (no shuffle in the plan): measured via the noop
# sink — see the NOOP_OPS branch in main()
NOOP_OPS = {"repetition_full", "lang_id", "gopher_quality", "scrub_pii"}

OPS = {
    "dedup_minhash": op_dedup_minhash,
    "dedup_components": op_dedup_components,
    "dedup_minhash_components": op_dedup_minhash_components,
    "ngram_jaccard": op_ngram_jaccard,
    "repetition_full": op_repetition_full,
    "bpe_train": op_bpe_train,
    "similarity_join": op_similarity_join,
    "exact_substring": op_exact_substring,
    "sparse_search_many": op_sparse_search_many,
    "sparse_rare": op_sparse_rare,
    "hybrid_search_many": op_hybrid_search_many,
    "pack_sequences": op_pack_sequences,
    "dsir_resample": op_dsir_resample,
    "lang_id": op_lang_id,
    "decontaminate": op_decontaminate,
    "decon_neardup": op_decon_neardup,
    "late_interaction": op_late_interaction,
    "late_interaction_pruned": op_late_interaction_pruned,
    "late_interaction_ivf": op_late_interaction_ivf,
    "late_interaction_hnsw": op_late_interaction_hnsw,
    "compaction_flush": op_compaction_flush,
    "scrub_pii": op_scrub_pii,
    "ngram_jaccard_08": op_ngram_jaccard_08,
    "csv_ingest": op_csv_ingest,
    "ppl_buckets": op_ppl_buckets,
    "gopher_quality": op_gopher_quality,
    "url_domain_cap": op_url_domain_cap,
}


def _sum_shuffle(event_dir: str, t0_ms: int):
    sw = sr = ntasks = 0
    stages: dict[int, dict] = {}
    names: dict[int, str] = {}
    paths = []
    for root, _dirs, files in os.walk(event_dir):
        paths += [os.path.join(root, f) for f in files
                  if not f.startswith(".") and "appstatus" not in f]
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerStageCompleted"' in line:
                    try:
                        si = json.loads(line).get("Stage Info") or {}
                        names[int(si.get("Stage ID", -1))] = si.get(
                            "Stage Name", "?")
                    except json.JSONDecodeError:
                        pass
                    continue
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                info = ev.get("Task Info") or {}
                if int(info.get("Launch Time", 0)) < t0_ms:
                    continue
                m = ev.get("Task Metrics") or {}
                swm = m.get("Shuffle Write Metrics") or {}
                srm = m.get("Shuffle Read Metrics") or {}
                tsw = int(swm.get("Shuffle Bytes Written", 0))
                tsr = (int(srm.get("Remote Bytes Read", 0))
                       + int(srm.get("Local Bytes Read", 0)))
                sw += tsw
                sr += tsr
                ntasks += 1
                sid = int(ev.get("Stage ID", -1))
                st = stages.setdefault(sid, {"w": 0, "r": 0, "n": 0})
                st["w"] += tsw
                st["r"] += tsr
                st["n"] += 1
    if os.environ.get("SCALE_BENCH_STAGES"):
        top = sorted(stages.items(), key=lambda kv: -kv[1]["w"] - kv[1]["r"])
        for sid, st in top[:8]:
            print(f"  stage {sid}: write={st['w']/1e6:.1f}MB "
                  f"read={st['r']/1e6:.1f}MB tasks={st['n']} "
                  f"{names.get(sid, '?')[:90]}", file=sys.stderr)
    return sw, sr, ntasks


def main() -> None:
    op, data_dir = sys.argv[1], sys.argv[2]
    ev_dir = tempfile.mkdtemp(prefix="scale_ev_")
    spark = _session(f"scale-{op}", ev_dir)
    try:
        build_sec = None
        if op in ("hnsw_build", "hnsw_search"):
            from flouds_vectordb_spark.operators.dense_search import (
                DenseSearchRequest,
            )
            from flouds_vectordb_spark.plans.hnsw import get_or_build_hnsw

            embs = _embs(spark, data_dir)
            rows_in = embs.count()
            path = os.path.join(data_dir, "hnsw_index")
            if op == "hnsw_build":
                shutil.rmtree(path, ignore_errors=True)
            t0 = time.time()
            t0_ms = int(t0 * 1000)
            idx = get_or_build_hnsw(embs, path, m=16, metric="COSINE",
                                    cell_target=256)
            build_sec = round(time.time() - t0, 3)
            first = embs.orderBy("id").limit(1).collect()[0]["vector"]
            q = [float(x) + 0.005 for x in first]
            t1 = time.time()
            if op == "hnsw_search":
                t0_ms = int(t1 * 1000)
            out = idx.search(spark, DenseSearchRequest(
                query_vector=q, metric="COSINE", limit=10), ef=64)
            rows_out = len(out.collect())
            query_sec = round(time.time() - t1, 3)
        else:
            fn = OPS[op]
            rows_in = _docs(spark, data_dir).count()
            # time construction + action together: some operators (DSIR,
            # drop-ratio builds) run bounded collect jobs while building
            # the plan — that work belongs to the operator
            t0 = time.time()
            t0_ms = int(t0 * 1000)
            made = fn(spark, data_dir)
            if isinstance(made, tuple):  # (build, query) split ops
                build_fn, query_fn = made
                artifact = build_fn()
                build_sec = round(time.time() - t0, 3)
                t1 = time.time()
                df = query_fn(artifact)
                rows_out = df.count()
                query_sec = round(time.time() - t1, 3)
            elif op in NOOP_OPS:
                # projection-only operators: count() would let Catalyst
                # prune every computed column down to a parquet metadata
                # read (measured: repetition_full "ran" 5M docs in 2.7 s
                # with 0 shuffle and 34 tasks — nothing executed). The
                # noop sink materializes all columns; the row count is a
                # pruned metadata read taken before the timed window.
                df = made
                rows_out = df.count()
                t0 = time.time()
                t0_ms = int(t0 * 1000)
                df.write.mode("overwrite").format("noop").save()
                query_sec = round(time.time() - t0, 3)
            else:
                df = made
                rows_out = df.count()
                query_sec = round(time.time() - t0, 3)
    finally:
        spark.stop()
    time.sleep(1.0)
    sw, sr, ntasks = _sum_shuffle(ev_dir, t0_ms)
    shutil.rmtree(ev_dir, ignore_errors=True)
    print(json.dumps({
        "op": op, "data_dir": data_dir, "rows_in": rows_in,
        "rows_out": rows_out, "build_sec": build_sec,
        "query_sec": query_sec,
        "shuffle_write_mb": round(sw / 1e6, 2),
        "shuffle_read_mb": round(sr / 1e6, 2),
        "tasks": ntasks,
    }))


if __name__ == "__main__":
    main()
