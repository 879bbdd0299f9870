"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed (numpy's PCG64 generator),
so a seed names one exact collection, request stream, upsert stream,
curation corpus and held-out set. Nothing is read from outside the
checkout: the corpora are synthesized, with the shape of the repo's test
fixtures (Zipf-distributed words, clustered 64-d embeddings).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CENTERS = 32
NOISE = 0.35

# common English function words first (gopher_quality's stop-word rule and
# lang_id need them), then a Zipf tail of content words
_FUNCTION = ("the", "of", "and", "to", "a", "in", "that", "is", "with", "be",
             "for", "on", "have", "as", "it", "by")
_CONTENT = ("spark", "vector", "index", "query", "table", "stream", "window",
            "filter", "join", "hash", "sort", "scan", "merge", "batch", "shard",
            "cluster", "search", "token", "corpus", "model", "embedding",
            "ranking", "segment", "partition", "column", "row", "schema",
            "tenant", "collection", "sparse", "dense", "hybrid", "score",
            "latency", "memory", "disk", "cache", "commit", "compaction",
            "replica", "leader", "follower", "graph", "centroid", "probe",
            "beam", "recall", "precision", "document", "sentence", "language",
            "quality", "filtering", "dedup", "shingle", "minhash", "bucket",
            "band", "signature", "packing", "sequence", "context", "window")
VOCAB = _FUNCTION + tuple(dict.fromkeys(_CONTENT)) + tuple(
    f"term{i}" for i in range(400))
_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.05
_P /= _P.sum()
# query words come from the content band so BM25 requests have both hits
# and non-hits (function words would match nearly every document)
_QUERY_WORDS = np.arange(len(_FUNCTION), len(_FUNCTION) + 120)

COLLECTION_DDL = ("id string, chunk string, vector array<float>, "
                  "meta map<string,string>")


class Inputs:
    """One seed's generator plus the fixed geometry every draw shares."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.centers = self.rng.standard_normal((N_CENTERS, DIM))

    # ---- collection rows -------------------------------------------------
    def text(self, lo: int, hi: int) -> str:
        n = int(self.rng.integers(lo, hi))
        return " ".join(VOCAB[i] for i in self.rng.choice(len(VOCAB), n, p=_P))

    def vector(self) -> np.ndarray:
        c = self.centers[int(self.rng.integers(N_CENTERS))]
        return (c + NOISE * self.rng.standard_normal(DIM)).astype(np.float32)

    def rows(self, keys) -> list[tuple]:
        """Collection rows (id, chunk, vector, meta) for the given keys."""
        out = []
        for k in keys:
            out.append((f"k{k:06d}", self.text(8, 40),
                        [float(x) for x in self.vector()],
                        {"src": f"s{int(self.rng.integers(5))}",
                         "tier": "gold" if self.rng.random() < 0.3 else "std"}))
        return out

    def upsert_keys(self, n: int, existing: int, next_new: int,
                    update_share: float) -> list[int]:
        """A batch of distinct keys: `update_share` of them re-send keys
        below `existing` (updates), the rest are new keys from next_new."""
        n_upd = int(round(n * update_share))
        upd = self.rng.choice(existing, n_upd, replace=False)
        new = np.arange(next_new, next_new + n - n_upd)
        return [int(k) for k in np.concatenate([upd, new])]

    # ---- requests --------------------------------------------------------
    def query_vector(self) -> list[float]:
        return [float(x) for x in self.vector()]

    def query_text(self) -> str:
        return " ".join(VOCAB[i] for i in self.rng.choice(_QUERY_WORDS, 3,
                                                          replace=False))

    def filter_text(self) -> str:
        return " ".join(VOCAB[i] for i in self.rng.choice(
            np.arange(len(_FUNCTION), len(_FUNCTION) + 12), 2, replace=False))

    # ---- curation corpus ---------------------------------------------------
    def write_base_corpus(self, path: str, n_docs: int):
        """documents.parquet in the repo's fixture schema (doc_id, text,
        lang, source, n_chars): 10-160-word documents, one in ten a verbatim
        copy of an earlier one (gen_scale_corpus's replicas add the fuzzy
        near-duplicates). Returns (texts, [(copy_id, source_id), ...])."""
        texts, copies = [], []
        for i in range(n_docs):
            if i > 10 and self.rng.random() < 0.1:
                src = int(self.rng.integers(i))
                texts.append(texts[src])
                copies.append((i, src))
            else:
                lines = [self.text(10, 40) for _ in range(int(self.rng.integers(1, 5)))]
                texts.append("\n".join(lines))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n_docs),
            "source": pa.array([f"src{i % 9}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), path)
        return texts, copies

    def held_out(self, texts: list[str], n: int):
        """A held-out eval set of `n` documents, half copied from the corpus
        (decontamination must flag those), half freshly drawn. Returns
        (rows, ids of the copied corpus documents)."""
        pick = [int(j) for j in self.rng.choice(len(texts), n // 2, replace=False)]
        rows = [(10_000_000_000 + i, texts[j]) for i, j in enumerate(pick)]
        rows += [(10_000_000_000 + len(rows) + i, self.text(40, 80))
                 for i in range(n - len(rows))]
        return rows, pick
