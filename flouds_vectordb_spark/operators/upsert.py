"""Upsert sink + dimension validation + flush — the reference's ingest path.

Reference behavior reproduced (citations into /root/reference):
- S3 `insert_data` (app/milvus/vector_store.py:292-404): batch upsert with
  primary-key latest-wins semantics (`client.upsert`, :358-362).
- I2 dimension validation (vector_store.py:332-352): every vector length
  must equal the collection dimension; violations raise with the offending
  keys listed.
- I3 auto-flush policy (vector_store.py:369-387, milvus_helper.py:121-130):
  flush iff force_flush, or auto_flush_min_batch == 0, or
  batch >= auto_flush_min_batch > 0; negative threshold = never.
- S4 `flush` (vector_store.py:406-426): segment persistence.

Spark-first design (100 TB): ingest APPENDS the batch as new parquet files
stamped with a monotonically increasing batch_ts — an O(batch) write, never
O(table). Reads resolve latest-wins lazily via the key-dedup window; `flush`
is COMPACTION — it materializes the deduped state and swaps it in, exactly
Milvus's buffered-segment + flush model re-expressed as append + compact.
The dedup window shuffles on the primary key (hash-partitioned, no skew:
keys are unique-ish), and AQE coalesces the output. On a cluster the rewrite
would be an incremental MERGE (Delta/Iceberg); plain parquet is the
lowest-common-denominator the driver environment supports.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from flouds_vectordb_spark import catalog as catalog_mod
from flouds_vectordb_spark import regime
from flouds_vectordb_spark.catalog import resolve_data_dir
from flouds_vectordb_spark.lifecycle import tracked_persist
from flouds_vectordb_spark.sources.tables import read_parquet

AUTO_FLUSH_MIN_BATCH = 100  # appsettings.json auto_flush_min_batch

# Reader grace window for generation sweep (r12 ADVICE low): a flush
# never deletes a _gen-* directory younger than this many seconds, even
# when it is past the {new, cur} retention pair — so a Spark scan that
# resolved the data pointer can outlive MULTIPLE rapid flushes without
# FileNotFoundException, as long as its job finishes inside the window.
GENERATION_GRACE_SECONDS = 300.0


def _locked(fn):
    """Run a mutating CollectionWriter method under the collection's
    single-writer lock (locks.WriterLock — reentrant, so insert_data's
    internal flush/index-maintenance calls re-enter freely)."""
    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._lock:
            return fn(self, *args, **kwargs)
    return wrapper


def validate_dimensions(batch: DataFrame, dim: int, vector_col: str = "vector",
                        key_col: str = "id") -> None:
    """I2: reject wrong-dimension vectors, naming offending keys
    (vector_store.py:332-352)."""
    bad = (
        batch.filter((F.col(vector_col).isNull()) | (F.size(F.col(vector_col)) != dim))
        .select(key_col)
        .limit(10)
        .collect()
    )
    if bad:
        keys = [r[key_col] for r in bad]
        raise ValueError(f"vectors with dimension != {dim} for keys {keys}")


def should_flush(batch_size: int, force_flush: bool = False,
                 auto_flush_min_batch: int = AUTO_FLUSH_MIN_BATCH) -> bool:
    """I3 flush policy (milvus_helper.py:121-130): 0 => always, <0 => never,
    else flush when the batch reaches the threshold."""
    if force_flush:
        return True
    if auto_flush_min_batch == 0:
        return True
    if auto_flush_min_batch < 0:
        return False
    return batch_size >= auto_flush_min_batch


def auto_id_partition_counts(stamped: DataFrame, bad_pred):
    """ONE job: per-partition row counts (plus the wrong-dim count) via
    groupBy(spark_partition_id()) — a scalars-only shuffle of
    npartitions rows. Returns (per_part rows sorted by pid, n, nbad).
    Shared by the single-writer allocator and multiwriter's range
    reservation (which must know n BEFORE it can claim the range)."""
    agg_cols = [F.count("*").alias("_cnt")]
    if bad_pred is not None:
        agg_cols.append(F.count(F.when(bad_pred, F.lit(1))).alias("_nbad"))
    per_part = (stamped.groupBy(F.spark_partition_id().alias("_pid"))
                .agg(*agg_cols).collect())
    per_part.sort(key=lambda r: r["_pid"])
    n = sum(int(r["_cnt"]) for r in per_part)
    nbad = (sum(int(r["_nbad"]) for r in per_part)
            if bad_pred is not None else 0)
    return per_part, n, nbad


def assign_ids_from_counts(stamped: DataFrame, per_part, start: int,
                           spark) -> DataFrame:
    """Zero-job half of the distributed auto-id allocator: prefix-sum
    the per-partition counts into base offsets starting at `start`,
    broadcast-join them back, id = base + low-33-bits of
    monotonically_increasing_id (Spark's mono id IS
    partitionId<<33 | rowIndexInPartition — dense, collision-free)."""
    bases, acc = [], int(start)
    for r in per_part:
        bases.append((int(r["_pid"]), acc))
        acc += int(r["_cnt"])
    offsets = spark.createDataFrame(bases, "_pid int, _base long")
    # pin pid AND row index in one projection BEFORE the join so both
    # read the pre-join partition layout whatever the join strategy does
    row_idx = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    assigned = (
        stamped.withColumn("_pid", F.spark_partition_id())
        .withColumn("_ridx", row_idx)
        .join(F.broadcast(offsets), "_pid")
        .withColumn("id", (F.col("_base") + F.col("_ridx")).cast("long"))
        .drop("_pid", "_base", "_ridx")
    )
    # keep the canonical column order (id first) for parquet appends
    cols = ["id"] + [c for c in stamped.columns if c != "id"]
    return assigned.select(*cols)


def upsert(current: DataFrame, batch: DataFrame, key_col: str = "id",
           ts_col: str = "batch_ts") -> DataFrame:
    """Latest-wins merge: union current+batch, keep the newest row per key.
    The Spark MERGE-on-parquet fallback from SURVEY §2.1-S3.

    Precondition: ts values are distinct per key across inputs (the batch
    carries a ts newer than anything stored). Duplicate keys WITHIN a batch
    share one ts and would tie nondeterministically — the reference rejects
    them at the request layer (insert_request.py:96-105) and insert_data
    enforces the same."""
    unioned = current.unionByName(batch, allowMissingColumns=True)
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).desc())
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_sql(current_sql: str, batch_sql: str, cols: list[str],
               key_expr: str = "id", ts_expr: str = "batch_ts") -> str:
    """DuckDB oracle twin of upsert(): union + latest-wins window."""
    col_list = ", ".join(cols)
    return f"""
SELECT {col_list} FROM (
  SELECT {col_list}, row_number() OVER (PARTITION BY {key_expr} ORDER BY {ts_expr} DESC) AS _rn
  FROM (SELECT {col_list} FROM {current_sql} UNION ALL SELECT {col_list} FROM {batch_sql})
) WHERE _rn = 1
"""


class CollectionWriter:
    """Catalog-backed ingest: append-on-insert, compact-on-flush."""

    def __init__(self, catalog, tenant: str, model: str):
        from flouds_vectordb_spark.locks import WriterLock

        self.catalog = catalog
        self.tenant = tenant
        self.model = model
        self.meta = catalog.describe_collection(tenant, model)
        # single-writer contract (locks.py): every mutating entry point
        # below takes this lock; a second concurrent writer raises
        # ConcurrentWriteError instead of silently interleaving appends
        # with a compaction swap. Reentrant (insert_data -> flush).
        self._lock = WriterLock(self.meta["path"].rstrip("/") + "__writer.lock")

    @_locked
    def insert_data(self, batch: DataFrame, batch_ts: int, force_flush: bool = False,
                    auto_flush_min_batch: int = AUTO_FLUSH_MIN_BATCH,
                    skip_dim_validation: bool = False) -> dict:
        """S3: validate dims, append the stamped batch, apply flush policy.
        skip_dim_validation is for callers that already ran the check in
        their own validation pass (sources/json_ingest.py).

        auto_id collections (primary_key_data_type=INT64,
        base_milvus.py:938): the batch must NOT carry an `id` column — ids
        are assigned here (see _assign_auto_ids) and the high-water mark is
        persisted back to the catalog row.

        batch_ts must be STRICTLY GREATER than the collection's stored
        watermark (meta last_batch_ts): ts reuse would make the latest-wins
        merge tie nondeterministically and would let the (id, batch_ts)
        staleness joins match several physical versions of one key.

        RETRY CONTRACT (ADVICE r7): the watermark advances BEFORE the data
        write (crash-safe order, see COMMIT ORDER below), so after ANY
        failure — raised here or a process crash — the caller must retry
        with a FRESH, larger batch_ts; the failed ts is permanently burned
        and a same-ts retry is rejected by the strictly-increasing check.
        Auto-id collections may leak the failed batch's id range as gaps
        (INT64 pks tolerate gaps). A failure raised from the data write
        itself additionally compensates by clearing the index_appends flag
        it pessimistically set, since nothing landed on disk."""
        # refresh the catalog row UNDER the collection lock: another
        # process may have inserted since this writer was constructed, and
        # both the auto-id high-water mark and the ts watermark below must
        # start from the file's current values, not a cached snapshot
        self.meta = self.catalog.describe_collection(self.tenant, self.model)
        self._recover_compaction()
        self._vacuum_stray_files()
        auto_id = (str(self.meta.get("primary_key_data_type", "VARCHAR")).upper()
                   in ("INT64", "INT"))
        last_ts = self.meta.get("last_batch_ts")
        if last_ts is not None and int(batch_ts) <= int(last_ts):
            raise ValueError(
                f"batch_ts {int(batch_ts)} is not greater than the "
                f"collection's last committed batch_ts {int(last_ts)}; "
                "timestamps must be strictly increasing per collection")
        if auto_id and "id" in batch.columns:
            # the reference schema sets auto_id=True for INT64 pks; Milvus
            # rejects client-supplied ids on auto_id collections
            raise ValueError(
                "collection has an auto-assigned INT64 primary key; "
                "remove the 'id' column from the insert batch")
        stamped = batch.withColumn("batch_ts", F.lit(int(batch_ts)))
        # one validation job for the whole batch: row/key counts and (unless
        # pre-validated) the COUNT of wrong-dimension rows ride the same agg.
        # The count is a bounded scalar — a batch that is entirely wrong-
        # dimension (the very case validation exists for) costs O(1) driver
        # memory; sample offender keys for the error message are fetched by
        # a second, limit(10)-bounded job that runs only on the failure path
        # (I2, vector_store.py:332-352). auto_id batches run the SAME single
        # job grouped by partition id instead — the per-partition counts
        # both validate and seed the id allocator.
        bad_pred = None
        if not skip_dim_validation:
            dim = int(self.meta["dimension"])
            bad_pred = F.col("vector").isNull() | (F.size("vector") != dim)
        # PIN the batch once, released after both index appends or on any
        # raise: the validation job, the write, the sparse append and the
        # IVF assign all read it, and would each recompute a caller's
        # Python-built batch. For auto_id it also fixes the layout the ids
        # derive from (partition, position), so the count job and the
        # write see the SAME ids even for sources whose recomputation
        # could reorder (df.sample, shuffle output, task retries).
        # Persist is best-effort (a lost executor recomputes), which is
        # why auto_id index appends re-read the WRITTEN files instead.
        from pyspark import StorageLevel

        pinned = tracked_persist(stamped, StorageLevel.MEMORY_AND_DISK)
        try:
            if auto_id:
                stamped, n, nbad = self._assign_auto_ids(pinned, bad_pred)
            else:
                stamped = pinned
                agg_cols = [F.count("*").alias("n"), F.count_distinct("id").alias("nk")]
                if bad_pred is not None:
                    agg_cols.append(F.count(F.when(bad_pred, F.lit(1))).alias("nbad"))
                counts = stamped.agg(*agg_cols).first()
                n = int(counts["n"])
                nbad = int(counts["nbad"]) if bad_pred is not None else 0
            if bad_pred is not None and nbad > 0:
                key_expr = "id" if not auto_id else F.lit("<auto>").alias("id")
                sample = [r["id"] for r in
                          stamped.filter(bad_pred).select(key_expr).limit(10).collect()]
                raise ValueError(
                    f"vectors with dimension != {self.meta['dimension']} "
                    f"for {nbad} rows, e.g. keys {sample}")
            # duplicate keys within one batch share a batch_ts and would make
            # the latest-wins merge nondeterministic; the reference rejects them
            # per request (insert_request.py:96-105). Auto-assigned ids are
            # unique by construction.
            if not auto_id and int(counts["nk"]) != n:
                raise ValueError("duplicate primary keys in batch")
            # COMMIT ORDER (crash contract, ADVICE r6): advance the
            # watermark/high-water mark BEFORE the data write. The two
            # steps cannot be atomic; ordering them write-intent-first
            # picks the safe failure mode. Crash after the meta update but
            # before the write: the ts is burned — a retry with the SAME
            # ts is rejected by the strictly-increasing check and the
            # caller re-inserts under a fresh ts (explicit, no
            # corruption; auto-ids in the burned range become gaps, which
            # INT64 pks tolerate). The old write-first order instead let
            # a same-ts retry duplicate the whole batch on disk, silently
            # breaking the (id, max batch_ts) uniqueness every latest-wins
            # view and staleness semi-join relies on. Partial data files
            # from a crash mid-write stay invisible (Spark's committer
            # stages task output in _temporary until job commit).
            updates = {"last_batch_ts": int(batch_ts)}
            if auto_id:
                updates["auto_id_next"] = int(self.meta.get("auto_id_next", 0)) + n
            flagged_appends = False
            if int(self.meta.get("index_appends", 0)) == 0 and self._has_dense_index():
                # the write below will append to the built index (see
                # _append_dense_indexes); flag it pessimistically in the
                # same meta write so a crash can only over-count, never
                # let a stale index row evade the staleness semi-join
                updates["index_appends"] = 1
                flagged_appends = True
            self.meta = self.catalog.update_collection_meta(
                self.tenant, self.model, **updates)
            try:
                stamped.write.mode("append").parquet(
                    resolve_data_dir(self.meta["path"]))
            except Exception:
                # COMPENSATION (ADVICE r7): a CAUGHT write failure (plain
                # Spark job failure, not a process crash) is known to have
                # landed nothing — the committer stages task output in
                # _temporary until job commit — so the pessimistic
                # index_appends flag set above can be safely cleared,
                # keeping the pristine-index staleness-join skip alive.
                # The burned batch_ts (and any reserved auto-id range)
                # stays burned BY DESIGN: the retry contract below
                # requires a fresh ts either way, and un-burning it would
                # re-open the same-ts duplicate-batch hazard the
                # write-intent-first order exists to close.
                if flagged_appends:
                    self.meta = self.catalog.update_collection_meta(
                        self.tenant, self.model, index_appends=0)
                raise
            # BATCH VISIBILITY (r8): the data is fully committed, so the
            # read-side snapshot watermark advances. Catalog.read_collection
            # filters batch_ts <= last_complete_ts, so a concurrent reader
            # NEVER observes a partially-moved multi-file commit, and a
            # crashed write's stray files (ts > last_complete_ts forever —
            # the retry contract burns that ts) stay invisible until flush
            # compacts them away. Meta order is the mirror of the
            # write-intent: intent BEFORE data (crash over-counts),
            # visibility AFTER data (crash under-exposes) — both fail safe.
            self.meta = self.catalog.update_collection_meta(
                self.tenant, self.model, last_complete_ts=int(batch_ts))
            if auto_id:
                # index maintenance reads the WRITTEN rows back (batch_ts
                # row-group pruning makes this an O(batch) read): the ids
                # on disk are the ids, whatever a cache-loss recompute of
                # the source lineage might have reordered
                stamped = (self.catalog.spark.read
                           .parquet(resolve_data_dir(self.meta["path"]))
                           .filter(F.col("batch_ts") == int(batch_ts)))
            sparse_indexed = self._append_sparse(stamped, int(batch_ts))
            dense_indexed = self._append_dense_indexes(stamped)
        finally:
            pinned.unpersist()
        flushed = should_flush(n, force_flush, auto_flush_min_batch)
        if flushed:
            self.flush()
        return {"inserted": n, "flushed": flushed,
                "sparse_indexed": sparse_indexed,
                "dense_indexed": dense_indexed}

    def _vacuum_stray_files(self) -> None:
        """Delete data files left by a CRASHED append (r8, runs under the
        writer lock at every insert): any parquet file whose batch_ts
        column stats lie wholly ABOVE last_complete_ts belongs to a batch
        whose completion watermark never advanced — the burned-ts retry
        contract says those rows must never become visible, and the
        read-side `batch_ts <= last_complete_ts` filter alone stops
        protecting them once a LATER batch commits past the stray ts.
        Each append writes only its own files, so file-level stats decide
        whole files; footer reads are driver-side pyarrow (O(#files)
        metadata, no data scan). Collections from before the watermark
        (meta lacks last_complete_ts) are left untouched."""
        wm = self.meta.get("last_complete_ts")
        if wm is None:
            return
        # optimistic multi-writer (r13): a LIVE concurrent batch (claimed
        # or committed-but-not-folded) sits above the watermark by design
        # — exempt its ts's; burned claims are cleaned by flush's
        # name-prefix sweep, not here
        mw_live = {int(t) for t in self.meta.get("mw_pending", {})} | \
                  {int(t) for t in self.meta.get("mw_committed", [])}
        import pyarrow.parquet as pq

        # resolved dir: appends land in the CURRENT generation; retained
        # previous generations are swept whole by the next flush, not here
        path = resolve_data_dir(self.meta["path"])
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                fp = os.path.join(root, fn)
                try:
                    md = pq.ParquetFile(fp).metadata
                    idx = {md.schema.column(i).name: i
                           for i in range(md.num_columns)}.get("batch_ts")
                    if idx is None:
                        continue
                    mins = [md.row_group(g).column(idx).statistics.min
                            for g in range(md.num_row_groups)]
                    if mins and all(m is not None and int(m) > int(wm)
                                    and int(m) not in mw_live
                                    for m in mins):
                        os.remove(fp)
                except (OSError, ValueError):  # unreadable footer: leave it
                    continue

    def _assign_auto_ids(self, stamped: DataFrame, bad_pred):
        """Distributed INT64 auto-id allocation (the reference's auto_id=True
        pk, base_milvus.py:938 — Milvus allocates ids server-side; here the
        allocator is Spark-native and collect-free on the data path):

        1. ONE job: per-partition row counts (plus the wrong-dim count for
           validation) via groupBy(spark_partition_id()) — a scalars-only
           shuffle of npartitions rows.
        2. Driver: prefix-sum the counts into per-partition base offsets
           starting at the collection's persisted `auto_id_next` high-water
           mark — npartitions scalars, tiny at any scale.
        3. Broadcast-join the (pid, base) block back and compute
           id = base + row-index-within-partition, where the row index is
           the low 33 bits of monotonically_increasing_id() (Spark's mono id
           IS partitionId<<33 | rowIndexInPartition, so the ids are dense
           and collision-free across partitions AND batches).

        Requires the batch lineage to be deterministic between the count job
        and the write job — the same caveat Spark documents for
        monotonically_increasing_id itself; all catalog ingest sources
        (parquet scans, createDataFrame, validated JSONL) qualify.
        Returns (stamped-with-id, n, nbad)."""
        start = int(self.meta.get("auto_id_next", 0))
        per_part, n, nbad = auto_id_partition_counts(stamped, bad_pred)
        return (assign_ids_from_counts(stamped, per_part, start,
                                       self.catalog.spark), n, nbad)

    def _has_dense_index(self) -> bool:
        import os

        return (os.path.exists(os.path.join(self.meta["path"] + "__hnsw",
                                            "_hnsw_meta.json"))
                or os.path.exists(os.path.join(self.meta["path"] + "__ivf",
                                               "_centroids.json")))

    def _ivf_needs_staleness_join(self) -> bool:
        """True when the IVF/coded layouts may hold stale versions of
        updated keys — i.e. any insert ran after the index build
        (meta index_appends, reset to 0 by build_index, flagged by
        insert_data BEFORE its data write). A never-appended index was
        built from read_latest() and is duplicate-free, so the search
        paths skip the full-collection _latest_keys semi-join entirely
        (ADVICE r6: that join cost O(collection) per search even when no
        append ever happened). Refreshes the catalog row first: another
        process may have appended since this reader was constructed."""
        self.meta = self.catalog.describe_collection(self.tenant, self.model)
        return int(self.meta.get("index_appends", 1)) != 0

    def _latest_keys(self, id_col: str = "id") -> DataFrame:
        """(id, batch_ts) of each key's CURRENT version — the scalars-only
        key view the staleness semi-joins consume. groupBy+max instead of
        read_latest's row_number window: a window admits no partial
        aggregation (every row shuffles), while max(batch_ts) combines
        map-side to one row per id before the exchange. Equivalent because
        insert_data enforces strictly-increasing batch_ts per collection,
        so (id, max(batch_ts)) IS the latest version's key pair."""
        return (self.catalog.read_collection(self.tenant, self.model)
                .groupBy(id_col).agg(F.max("batch_ts").alias("batch_ts")))

    def read_latest(self) -> DataFrame:
        """Latest-wins view over the appended segments."""
        return catalog_mod.latest_wins(
            self.catalog.read_collection(self.tenant, self.model))

    @_locked
    def flush(self) -> None:
        """S4: compact appended segments to the deduped state.

        MANIFEST-POINTER COMMIT (r12, VERDICT ask #7 — replaces the r10/
        r11 two-rename directory swap and its reader seam): the new
        generation is written to an underscore-prefixed subdirectory of
        the collection root (invisible to any concurrent Spark scan of
        the old layout), then ONE pointer file (_CURRENT) is atomically
        os.replace()d to name it. The root directory is never renamed or
        absent, so readers have no seam to wait across; the previous
        generation's files are KEPT until the next flush so a reader that
        resolved the pointer just before this commit still finds them.

          1. write root/_gen-<n+1>/  (the compacted parquet)
          2. fsync-write root/_CURRENT.tmp; os.replace -> root/_CURRENT
          3. sweep every data location except the new generation and the
             one it replaced (the previous flush's garbage + this one's
             now-previous, aged one cycle)

        Crash states collapse to "pointer names old or new": a crash in
        step 1-2 leaves the pointer on the old generation (the orphan
        _gen dir is swept by recovery); after step 2 the commit is
        complete (leftover old data is swept by the next flush/recovery).
        On a multi-node deployment this is exactly where a transactional
        table format (Delta/Iceberg atomic commit) takes over; the
        pointer keeps plain parquet safe on one writer."""
        self._recover_compaction()
        # optimistic multi-writer (r13, operators/multiwriter.py): a
        # compaction racing an in-flight concurrent append would strand
        # its mid-move files in a to-be-swept generation — refuse loudly;
        # quiesce appenders (or wait out the claim lease), then flush.
        # Burned claims' leftovers are swept here by name prefix, and
        # committed concurrent batches fold into the watermark after the
        # pointer commit (their rows are IN the new generation: the
        # read_latest() below reads the committed-inclusive view).
        self.meta = self.catalog.describe_collection(self.tenant, self.model)
        if self.meta.get("mw_pending"):
            from flouds_vectordb_spark.operators.multiwriter import (
                PendingAppendsError,
            )
            raise PendingAppendsError(
                f"{len(self.meta['mw_pending'])} concurrent append(s) "
                "in flight; flush would strand their files — quiesce "
                "appenders first (stale claims evict after their lease)")
        from flouds_vectordb_spark.operators.multiwriter import (
            sweep_burned_files,
        )
        swept = sweep_burned_files(self.meta)
        root = self.meta["path"]
        cur = resolve_data_dir(root)
        gen = f"_gen-{self._gen_number(cur) + 1:06d}"
        new = os.path.join(root, gen)
        self.read_latest().write.mode("overwrite").parquet(new)
        ptr_tmp = os.path.join(root, catalog_mod.CURRENT_PTR + ".tmp")
        with open(ptr_tmp, "w") as f:
            f.write(gen)
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptr_tmp, os.path.join(root, catalog_mod.CURRENT_PTR))
        self._sweep_generations(keep={new, cur})
        mw_c = [int(t) for t in self.meta.get("mw_committed", [])]
        if mw_c or swept:
            # fold AFTER the pointer commit: a crash before this edit
            # leaves the committed list set — rows stay visible via the
            # isin filter either way, so both crash sides read the same
            updates = {}
            if mw_c:
                updates["mw_committed"] = []
                updates["last_complete_ts"] = max(
                    int(self.meta.get("last_complete_ts") or 0), *mw_c)
            if swept:
                updates["mw_burned"] = []
            self.meta = self.catalog.update_collection_meta(
                self.tenant, self.model, **updates)

    @staticmethod
    def _gen_number(data_dir: str) -> int:
        base = os.path.basename(data_dir.rstrip("/"))
        if base.startswith("_gen-"):
            try:
                return int(base[len("_gen-"):])
            except ValueError:
                pass
        return 0

    def _sweep_generations(self, keep: set) -> None:
        """Remove every data location under the collection root except
        `keep`: stale _gen-* directories, a stray pointer tmp, and — once
        the root's loose segments are no longer the kept previous
        generation — the pre-first-flush root-level parquet files.

        Reader grace (r12 ADVICE low): besides `keep` ({new, cur} — the
        committed generation and the one it replaced), generations
        YOUNGER than GENERATION_GRACE_SECONDS are retained by commit-time
        mtime, so a Spark scan that resolved the pointer before two RAPID
        consecutive flushes still finds its files — the sweep horizon is
        age, not flush count. A reader older than the grace window can
        still hit FileNotFoundException on swept files; deployments with
        long-running scans should raise the window (it costs only disk
        for one extra compacted copy per flush inside the window)."""
        import shutil
        import time

        root = self.meta["path"]
        ptr_tmp = os.path.join(root, catalog_mod.CURRENT_PTR + ".tmp")
        if os.path.exists(ptr_tmp):
            os.remove(ptr_tmp)
        horizon = time.time() - GENERATION_GRACE_SECONDS
        for name in os.listdir(root):
            p = os.path.join(root, name)
            if name.startswith("_gen-") and os.path.isdir(p) and p not in keep:
                try:
                    if os.path.getmtime(p) > horizon:
                        continue  # young generation: a reader may hold it
                except OSError:
                    pass
                shutil.rmtree(p, ignore_errors=True)
        if root not in keep:
            for name in os.listdir(root):
                p = os.path.join(root, name)
                if os.path.isfile(p) and not name.startswith(("_", ".")):
                    os.remove(p)

    def _recover_compaction(self) -> None:
        """Repair any state a crashed flush() left behind. With the
        pointer protocol there is exactly one rule: the pointed-to
        generation (or the root, pre-first-flush) is the data; everything
        else — a half-written NEWER _gen dir, a pointer tmp — is garbage.
        The previous generation is deliberately retained (reader grace,
        see flush); it is swept by the next successful flush. Legacy
        r10-layout leftovers (__compacting/__precompact siblings) are
        rolled forward/back once, then the dirs can no longer appear."""
        import shutil

        root = self.meta["path"]
        # legacy two-rename layout recovery (pre-r12 collections)
        tmp = root + "__compacting"
        old = root + "__precompact"
        if os.path.isdir(root):
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.isdir(old):
            if os.path.isfile(os.path.join(tmp, "_COMPACT_COMPLETE")):
                os.rename(tmp, root)
                shutil.rmtree(old)
            else:
                shutil.rmtree(tmp, ignore_errors=True)
                os.rename(old, root)
        if not os.path.isdir(root):
            return
        cur = resolve_data_dir(root)
        cur_n = self._gen_number(cur)
        ptr_tmp = os.path.join(root, catalog_mod.CURRENT_PTR + ".tmp")
        if os.path.exists(ptr_tmp):
            os.remove(ptr_tmp)
        for name in os.listdir(root):
            p = os.path.join(root, name)
            if (name.startswith("_gen-") and os.path.isdir(p)
                    and self._gen_number(p) > cur_n):
                shutil.rmtree(p, ignore_errors=True)

    # ---- index build + search (S2's index job + the reference search gate) --
    @_locked
    def build_index(self):
        """The generate_schema index-build job (base_milvus.py:1216-1310),
        run over the flushed collection, dispatched on the spec's
        index_type (generate_schema_request.py:129):
        - IVF_FLAT: centroid-partitioned layout (plans/ivf.py).
        - IVF_SQ8: IVF layout + per-dimension uint8 codes (plans/sq8.py),
          partitioned by centroid_id — probed scans read 1 byte/dim.
        - IVF_PQ: IVF layout + product codes (plans/pq.py, kmeans codebook,
          m = largest divisor of dim <= 16, k = 256).
        - HNSW: navigable-neighbor-graph tables + beam search
          (plans/hnsw.py) — REAL graph-ANN execution (the Spark-honest
          DiskANN/Vamana shape; replaces the earlier IVF_FLAT fallback)."""
        from flouds_vectordb_spark.plans.ivf import build_ivf

        itype_early = str(self.meta["index_type"]).upper()
        if itype_early == "HNSW":
            from flouds_vectordb_spark.plans.hnsw import build_hnsw

            gidx = build_hnsw(self.read_latest(), self.meta["path"] + "__hnsw",
                              metric=self.meta["metric_type"],
                              id_col="id", vector_col="vector")
            # built from read_latest(): duplicate-free until the next
            # append (gates _ivf_needs_staleness_join for IVF kinds; kept
            # uniform for HNSW)
            self.meta = self.catalog.update_collection_meta(
                self.tenant, self.model, index_appends=0)
            return gidx

        ivf_path = self.meta["path"] + "__ivf"
        idx = build_ivf(
            self.read_latest(),
            ivf_path,
            nlist=int(self.meta["nlist"]),
            metric=self.meta["metric_type"],
        )
        itype = str(self.meta["index_type"]).upper()
        spark = self.catalog.spark
        dim = int(self.meta["dimension"])
        # coded rows carry batch_ts so post-build ingest can append codes
        # and search can resolve latest-wins against the payload (stale
        # codes of updated rows drop out of the (id, batch_ts) join)
        if itype == "IVF_SQ8":
            from flouds_vectordb_spark.plans.sq8 import build_sq8

            build_sq8(spark.read.parquet(ivf_path), self.meta["path"] + "__sq8",
                      dim=dim, extra_cols=("centroid_id", "batch_ts"))
        elif itype == "IVF_PQ":
            from flouds_vectordb_spark.plans.pq import build_pq

            m = next(m for m in (16, 8, 4, 2, 1) if dim % m == 0)
            build_pq(spark.read.parquet(ivf_path), self.meta["path"] + "__pq",
                     m=m, k=256, metric=self.meta["metric_type"],
                     extra_cols=("centroid_id", "batch_ts"))
        self.meta = self.catalog.update_collection_meta(
            self.tenant, self.model, index_appends=0)
        return idx

    def _append_dense_indexes(self, stamped: DataFrame) -> bool:
        """O(batch) dense-index maintenance, called from insert_data when a
        built index exists (the Milvus growing-segment contract: rows
        inserted after the index build are searchable, ADVICE r4): assign
        the batch to the EXISTING centroids, append into the IVF layout,
        and encode against the EXISTING SQ8 bounds / PQ codebook. Updated
        keys leave stale rows in the index files; every indexed search
        resolves latest-wins by batch_ts, so they are invisible."""
        import os

        from flouds_vectordb_spark.plans.ivf import open_ivf

        hnsw_path = self.meta["path"] + "__hnsw"
        if os.path.exists(os.path.join(hnsw_path, "_hnsw_meta.json")):
            from flouds_vectordb_spark.plans.hnsw import open_hnsw

            open_hnsw(hnsw_path).append(stamped)
            return True
        ivf_path = self.meta["path"] + "__ivf"
        if not os.path.exists(os.path.join(ivf_path, "_centroids.json")):
            return False
        idx = open_ivf(ivf_path)
        # by cell, as build_ivf writes: the IVF, SQ8 and PQ appends each
        # add one file per touched cell, not one per batch partition and cell
        assigned = tracked_persist(
            idx.assign(stamped).repartition(F.col("centroid_id")))
        try:
            assigned.write.mode("append").partitionBy("centroid_id") \
                .parquet(ivf_path)
            itype = str(self.meta["index_type"]).upper()
            if itype == "IVF_SQ8":
                from flouds_vectordb_spark.plans.sq8 import append_sq8

                append_sq8(assigned, self.meta["path"] + "__sq8",
                           extra_cols=("centroid_id", "batch_ts"))
            elif itype == "IVF_PQ":
                from flouds_vectordb_spark.plans.pq import append_pq

                append_pq(assigned, self.meta["path"] + "__pq",
                          extra_cols=("centroid_id", "batch_ts"))
        finally:
            assigned.unpersist()
        return True

    def _check_query_dim(self, query_vector) -> None:
        """The reference's query-dimension validation: a wrong-dim query must
        RAISE, not return an empty result set (input_validator.py:169-170,
        dim read vector_store.py:207-263)."""
        dim = int(self.meta["dimension"])
        if len(query_vector) != dim:
            raise ValueError(
                f"query vector dimension {len(query_vector)} != collection dimension {dim}"
            )

    def search(self, req, use_index: bool = False, **dense_kwargs):
        """Dense search over the stored collection (with query-dim check).
        With use_index, dispatches on the built index: IVF_FLAT probes the
        exact centroid layout; HNSW beam-searches the neighbor-graph tables
        (plans/hnsw.py) and re-scores the shortlist exactly;
        IVF_SQ8/IVF_PQ probe the coded table (partition
        pruning on centroid_id), rebuild the decoded/reconstructed vector
        JVM-side, join the payload back by id (late materialization: the
        scoring scan reads only id+codes) and run the unchanged
        dense_search request pipeline over it — approximate scores, the
        Milvus quantized-search contract."""
        from flouds_vectordb_spark.operators.dense_search import dense_search
        from flouds_vectordb_spark.plans.ivf import open_ivf

        self._check_query_dim(req.query_vector)
        if not use_index:
            return dense_search(self.read_latest(), req, **dense_kwargs)

        itype = str(self.meta["index_type"]).upper()
        if itype == "HNSW":
            # graph-ANN path: beam over the stored graph (stale versions of
            # updated keys may enter the beam — the growing-segment
            # contract), then latest-wins on the TINY shortlist before the
            # exact request pipeline re-scores it
            from flouds_vectordb_spark.plans.hnsw import open_hnsw

            return open_hnsw(self.meta["path"] + "__hnsw").search(
                self.catalog.spark, req, **dense_kwargs)

        idx = open_ivf(self.meta["path"] + "__ivf")
        spark = self.catalog.spark
        vector_col = dense_kwargs.get("vector_col", "vector")
        id_col = dense_kwargs.get("id_col", "id")
        cells = idx.probe_cells(req.query_vector, req.nprobe)
        if itype not in ("IVF_SQ8", "IVF_PQ"):
            # post-build appends leave stale versions of updated keys in
            # the IVF files; a semi-join on (id, batch_ts) against the
            # GLOBAL latest view keeps exactly the current version of each
            # key (stale codes match nothing), the same staleness contract
            # as the quantized paths. A per-pruned-scan latest-wins window
            # would instead keep a key's old vector when its update landed
            # in an unprobed cell — and make a query's result depend on
            # which cells happened to be scanned (single vs batched probes
            # would then disagree).
            pruned = idx.scan(spark, cells)
            if self._ivf_needs_staleness_join():
                pruned = pruned.join(self._latest_keys(id_col),
                                     [id_col, "batch_ts"], "left_semi")
            return dense_search(pruned, req, **dense_kwargs)

        coded = self._decoded_scan(itype, cells, id_col, vector_col)
        # the payload join doubles as staleness resolution: read_latest is
        # the latest-wins view, so joining on (id, batch_ts) keeps exactly
        # the CURRENT version's codes — stale codes of updated keys match
        # nothing and drop out
        payload = self.read_latest().drop(vector_col)
        return dense_search(coded.join(payload, [id_col, "batch_ts"], "inner"),
                            req, **dense_kwargs)

    def _decoded_scan(self, itype: str, cells, id_col: str, vector_col: str,
                      extra_cols: tuple = ()):
        """Shared SQ8/PQ quantized-scan builder: open the coded table, prune
        to the probed cells, decode/reconstruct the vector JVM-side. One
        definition serves the single-query and batched paths so the decode
        contract cannot drift between them."""
        spark = self.catalog.spark
        if itype == "IVF_SQ8":
            from flouds_vectordb_spark.plans.sq8 import open_sq8, sq8_decoded_column

            path = self.meta["path"] + "__sq8"
            mins, steps = open_sq8(path)
            decoded = sq8_decoded_column(F.col("codes"), mins, steps)
        else:
            from flouds_vectordb_spark.plans.pq import open_pq, pq_decoded_column

            path = self.meta["path"] + "__pq"
            decoded = pq_decoded_column(F.col("codes"), open_pq(path))
        return (
            read_parquet(spark, path)
            .filter(F.col("centroid_id").isin(list(cells)))
            .select(id_col, "batch_ts", *extra_cols, decoded.alias(vector_col))
        )

    def search_many(self, queries, req, use_index: bool = True, **dense_kwargs):
        """Batched multi-query search (operators/batch_search.py): one
        centroid-pruned scan scores EVERY query in the (qid, vector) batch
        — the per-query driver-job floor of `search` amortizes across the
        block (the retrieval-pipeline shape the single-request REST surface
        lacks; see batch_search.py's header). Dispatches on the built
        index like `search`: IVF_FLAT probes the exact layout; IVF_SQ8 /
        IVF_PQ probe the coded table and score the decoded vectors.
        Staleness of updated keys resolves BEFORE scoring (latest-wins
        window on the pruned scan / (id, batch_ts) semi-join against the
        latest view), so stale versions never occupy top-k slots. Returns
        (qid, id, rank, score [, chunk, meta_kv...])."""
        import numpy as np

        from flouds_vectordb_spark.operators.batch_search import (
            dense_search_many,
            ivf_search_many,
        )
        from flouds_vectordb_spark.plans.ivf import open_ivf

        queries = list(queries)
        for _, v in queries:
            self._check_query_dim(v)
        if not use_index:
            return dense_search_many(self.read_latest(), queries, req,
                                     **dense_kwargs)

        itype = str(self.meta["index_type"]).upper()
        if itype == "HNSW":
            # batched beam (plans/hnsw.py beam_search_many): 2 jobs per
            # round for the WHOLE block; exact re-rank + post-filters run
            # per qid over the latest-wins payload
            from flouds_vectordb_spark.plans.hnsw import open_hnsw

            return open_hnsw(self.meta["path"] + "__hnsw").search_many(
                self.catalog.spark, queries, req,
                payload_df=self.read_latest(), **dense_kwargs)
        idx = open_ivf(self.meta["path"] + "__ivf")
        spark = self.catalog.spark
        vector_col = dense_kwargs.get("vector_col", "vector")
        id_col = dense_kwargs.get("id_col", "id")
        qmat = np.array([[float(x) for x in v] for _, v in queries],
                        dtype=np.float64)
        union_cells = sorted(
            {int(c) for row in idx.probe_cells_many(qmat, req.nprobe)
             for c in row})

        if itype not in ("IVF_SQ8", "IVF_PQ"):
            # same (id, batch_ts) global-latest semi-join as the
            # single-query branch: per-qid results are then INDEPENDENT of
            # which other queries share the batch (a union-cells window
            # would let one query's probed cells change another's dedup)
            pruned = idx.scan(spark, union_cells)
            if self._ivf_needs_staleness_join():
                pruned = pruned.join(self._latest_keys(id_col),
                                     [id_col, "batch_ts"], "left_semi")
            return ivf_search_many(idx, spark, queries, req, scan_df=pruned,
                                   payload_df=pruned, **dense_kwargs)

        coded = self._decoded_scan(itype, union_cells, id_col, vector_col,
                                   extra_cols=("centroid_id",))
        # scalars-only staleness semi-join: stale codes of updated keys
        # match no (id, batch_ts) pair in the latest view and drop out
        if self._ivf_needs_staleness_join():
            coded = coded.join(self._latest_keys(id_col),
                               [id_col, "batch_ts"], "left_semi")
        return ivf_search_many(idx, spark, queries, req, scan_df=coded,
                               payload_df=self.read_latest(), **dense_kwargs)

    # ---- sparse + hybrid over the stored collection (vector_store.py:594-692)
    #
    # Index layout (the Lucene/ES model re-expressed for parquet): BM25
    # weights depend on GLOBAL stats (idf, avgdl), so a materialized weight
    # table is inherently O(index) to maintain — any ingest changes every
    # stored weight. Instead the index stores only IMMUTABLE per-document
    # facts and additively-mergeable stats; weights derive at read:
    #   __sparse_tf    (id, term, tf, dl, batch_ts)  append-only, written
    #                  range-partitioned + sorted by term so query-time
    #                  `term IN (...)` pushdown skips whole row groups
    #   __sparse_docs  (id, dl, batch_ts)            append-only registry
    #                  (counts zero-term docs; supplies the latest version
    #                  ts per doc for stale-row filtering)
    #   __sparse_stats (term, df)                    rewritten per merge,
    #                  O(distinct terms) — at 100 TB this is the vocabulary,
    #                  orders of magnitude smaller than the postings
    #   __sparse_meta.json {n_docs, sum_dl}          two driver counters
    # An ingest therefore costs O(batch + distinct terms), never a posting
    # rewrite. drop_ratio_build > 0 keeps the legacy MATERIALIZED pruned
    # table (__postings): Milvus prunes by a build-time global weight
    # quantile, which is meaningless under derive-at-read — that index is
    # rebuild-only, like the reference's (base_milvus.py:1286-1310).

    def _sparse_paths(self) -> dict:
        p = self.meta["path"]
        return {"legacy": p + "__postings", "tf": p + "__sparse_tf",
                "docs": p + "__sparse_docs", "stats": p + "__sparse_stats",
                "meta": p + "__sparse_meta.json"}

    # posting-write sizing (r9 VERDICT ask #2): one range partition per
    # ~1.6 MB of the SOURCE COLLECTION's scan bytes (regime.input_bytes,
    # the leaf sum: a scan's file bytes or a cache's size). The r9
    # x1000 measurement showed the session-default 32 range partitions
    # sorting 31M posting rows per partition with spill (227.4 s); 256
    # partitions restored the sublinear step (102.0 s). Calibration:
    # 5M docs estimate at 414 MB -> ~258 partitions, reproducing the
    # measured fix; gate-scale corpora stay at the session default. The
    # estimate must come from the collection scan (or a materialized
    # cache) — the exploded tf plan's own join-propagated estimate is
    # off by orders of magnitude (measured 76 PB at x1000).
    _POSTINGS_SRC_BYTES_PER_PART = 1_600_000
    _POSTINGS_MAX_PARTS = 32_768

    @classmethod
    def _postings_partitions(cls, src: DataFrame) -> int | None:
        """Range-partition count for a postings write, scaled with the
        source collection; None = keep the session default (small corpus
        or no usable estimate)."""
        size = regime.input_bytes(src)
        if not size:
            return None
        default = int(src.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
        n = min(cls._POSTINGS_MAX_PARTS, size // cls._POSTINGS_SRC_BYTES_PER_PART)
        return int(n) if n > default else None

    @classmethod
    def _term_sorted(cls, df: DataFrame,
                     src: DataFrame | None = None) -> DataFrame:
        """Range-partition + sort by term so each output file covers a
        narrow term range: parquet min/max column stats then let a pushed
        `term IN (...)` filter skip whole row groups (tests assert the
        written files have disjoint term ranges). src (the collection the
        postings derive from) sizes the partition count — see
        _postings_partitions."""
        n = cls._postings_partitions(src) if src is not None else None
        if n is None:
            return df.repartitionByRange(F.col("term")) \
                     .sortWithinPartitions("term")
        return df.repartitionByRange(n, F.col("term")) \
                 .sortWithinPartitions("term")

    @_locked
    def build_sparse_index(self, drop_ratio_build: float = 0.0):
        """I1's index artifact over the flushed collection (the
        SPARSE_INVERTED_INDEX analogue): incremental tf/docs/stats layout
        (see above) or, with drop_ratio_build > 0, the legacy materialized
        pruned posting table."""
        import json

        from flouds_vectordb_spark.operators.sparse_search import (
            bm25_postings,
            bm25_term_stats,
            bm25_tf,
        )

        paths = self._sparse_paths()
        latest = self.read_latest()
        if drop_ratio_build > 0.0:
            self._term_sorted(
                bm25_postings(latest, drop_ratio_build=drop_ratio_build),
                src=latest,
            ).write.mode("overwrite").parquet(paths["legacy"])
            return paths["legacy"]
        # Exactly ONE tokenize pass and four small jobs (the naive
        # per-artifact recompute re-ran the latest-wins window + tokenize
        # 4x — measured 2.4x flow inflation at sf0.1): the tf write does
        # the heavy work; the doc registry and term stats DERIVE from the
        # just-written tf parquet (scalar scans, no re-tokenize; zero-term
        # docs rejoin from the keyed id list with dl=0 — bm25_doc_rows'
        # contract), and (n_docs, sum_dl) aggregates off the registry.
        spark = self.catalog.spark
        keyed = latest.select("id", "batch_ts")
        # tf rows carry the version ts of their document so stale versions
        # are filterable at read via the (id, latest ts) registry join
        self._term_sorted(bm25_tf(latest).join(keyed, "id"), src=latest) \
            .write.mode("overwrite").parquet(paths["tf"])
        tf_read = spark.read.parquet(paths["tf"])
        (
            keyed.join(tf_read.select("id", "dl").distinct(), "id", "left")
            .withColumn("dl", F.coalesce("dl", F.lit(0)))
            .write.mode("overwrite").parquet(paths["docs"])
        )
        bm25_term_stats(tf_read.select("id", "term", "tf")) \
            .write.mode("overwrite").parquet(paths["stats"])
        row = spark.read.parquet(paths["docs"]).agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s")).first()
        with open(paths["meta"], "w") as f:
            json.dump({"n_docs": int(row["n"]), "sum_dl": int(row["s"])}, f)
        return paths["tf"]

    def _append_sparse(self, batch: DataFrame, batch_ts: int) -> bool:
        """O(batch) incremental index maintenance, called from insert_data
        when the incremental artifacts exist. Handles UPDATES: a batch key
        that already exists gets its old tf rows superseded (latest-wins by
        doc ts at read) and its old df/dl contributions subtracted from the
        mergeable stats, so the derived weights equal a full rebuild's —
        parity-tested in tests/test_sparse_search.py. No persist here:
        insert_data's pin on `batch` also serves the dense append."""
        import json
        import os
        import shutil

        from flouds_vectordb_spark.operators.sparse_search import (
            bm25_doc_rows,
            bm25_term_stats,
            bm25_tf,
        )

        paths = self._sparse_paths()
        if not os.path.isdir(paths["tf"]):
            return False
        spark = self.catalog.spark
        new_tf = bm25_tf(batch).withColumn("batch_ts", F.lit(batch_ts))
        new_docs = bm25_doc_rows(batch).withColumn("batch_ts", F.lit(batch_ts))

        # updated docs: latest stored version per batch key (join, not a
        # driver-side id list — bulk batches stay distributed; the batch
        # side is small and broadcast-able, AQE picks the strategy)
        docs = read_parquet(spark, paths["docs"])
        batch_ids = batch.select("id")
        updated = (
            docs.join(batch_ids, "id")
            .groupBy("id")
            .agg(F.max("batch_ts").alias("batch_ts"))
        ).transform(tracked_persist)
        try:
            upd_row = (
                docs.join(updated, ["id", "batch_ts"])
                .agg(F.count("*").alias("n"),
                     F.coalesce(F.sum("dl"), F.lit(0)).alias("s"))
                .first()
            )
            n_upd, dl_upd = int(upd_row["n"]), int(upd_row["s"])
            batch_row = new_docs.agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("s")).first()

            # stats' = stats + df(new) - df(old versions of updated docs)
            old_tf_upd = read_parquet(spark, paths["tf"]).join(
                updated, ["id", "batch_ts"])
            neg_df = bm25_term_stats(old_tf_upd).withColumn(
                "df", -F.col("df"))
            stats = read_parquet(spark, paths["stats"])
            merged = (
                stats.unionByName(bm25_term_stats(new_tf)).unionByName(neg_df)
                .groupBy("term").agg(F.sum("df").alias("df"))
                .filter(F.col("df") > 0)
            )
            tmp = paths["stats"] + "__merging"
            merged.write.mode("overwrite").parquet(tmp)
        finally:
            updated.unpersist()
        shutil.rmtree(paths["stats"])
        os.replace(tmp, paths["stats"])

        # a pinned batch is materialized by insert_data's validation job,
        # so its cache stats size the append's partitioning
        self._term_sorted(new_tf, src=batch).write.mode("append") \
            .parquet(paths["tf"])
        new_docs.write.mode("append").parquet(paths["docs"])

        with open(paths["meta"]) as f:
            counters = json.load(f)
        counters["n_docs"] += int(batch_row["n"]) - n_upd
        counters["sum_dl"] += int(batch_row["s"]) - dl_upd
        with open(paths["meta"], "w") as f:
            json.dump(counters, f)
        return True

    def _stored_postings(self):
        """The queryable posting view (id, term, tf, dl, df, weight):
        legacy materialized table if present, else weights DERIVED from the
        incremental artifacts — matched tf rows (term pushdown reaches the
        sorted tf scan) x current term stats x the two counters. Stale doc
        versions are dropped by the (id, latest ts) join against the doc
        registry."""
        import json
        import os

        from flouds_vectordb_spark.operators.sparse_search import bm25_weights

        paths = self._sparse_paths()
        spark = self.catalog.spark
        if os.path.isdir(paths["legacy"]):
            return read_parquet(spark, paths["legacy"])
        if not os.path.isdir(paths["tf"]):
            return None
        doc_latest = (
            read_parquet(spark, paths["docs"])
            .groupBy("id").agg(F.max("batch_ts").alias("batch_ts"))
        )
        tf_latest = read_parquet(spark, paths["tf"]).join(
            doc_latest, ["id", "batch_ts"]).select("id", "term", "tf", "dl")
        stats = read_parquet(spark, paths["stats"])
        with open(paths["meta"]) as f:
            counters = json.load(f)
        return bm25_weights(tf_latest, stats,
                            counters["n_docs"], counters["sum_dl"])

    def search_sparse(self, req, use_index: bool = False):
        """Sparse BM25 over the stored collection; use_index=True reads the
        built posting table (term-IN pushdown), else the index-free direct
        scorer — bit-identical results either way."""
        from flouds_vectordb_spark.operators.sparse_search import (
            sparse_search,
            sparse_search_direct,
        )

        if use_index:
            postings = self._stored_postings()
            if postings is None:
                raise ValueError("no sparse index built; call build_sparse_index()")
            return sparse_search(postings, req)
        return sparse_search_direct(self.read_latest(), req)

    def search_hybrid(self, req, use_index: bool = False, **hybrid_kwargs):
        """Hybrid RRF over the stored collection; with use_index the sparse
        branch reads the posting table."""
        from flouds_vectordb_spark.operators.hybrid_search import hybrid_search

        self._check_query_dim(req.query_vector)
        postings = self._stored_postings() if use_index else None
        if use_index and postings is None:
            raise ValueError("no sparse index built; call build_sparse_index()")
        return hybrid_search(self.read_latest(), postings, req, **hybrid_kwargs)

    def search_sparse_many(self, queries, req, use_index: bool = True):
        """Batched BM25 (sparse_search.sparse_search_many): queries is a
        (qid, query_text) sequence; one term-pruned posting scan serves the
        whole block. With use_index=False the posting table is derived from
        the stored collection on the fly (one build amortized across the
        block — for a single query use search_sparse instead)."""
        from flouds_vectordb_spark.operators.sparse_search import (
            bm25_postings,
            sparse_search_many,
        )

        postings = self._stored_postings() if use_index else None
        if use_index and postings is None:
            raise ValueError("no sparse index built; call build_sparse_index()")
        if postings is None:
            postings = bm25_postings(self.read_latest())
        return sparse_search_many(postings, queries, req)

    def search_hybrid_many(self, queries, req, use_index: bool = True,
                           **hybrid_kwargs):
        """Batched hybrid RRF (hybrid_search.hybrid_search_many): queries
        is a (qid, vector, text) sequence; one dense scan + one posting
        scan serve every branch of the block."""
        from flouds_vectordb_spark.operators.hybrid_search import hybrid_search_many

        queries = list(queries)
        for _, v, _ in queries:
            self._check_query_dim(v)
        postings = self._stored_postings() if use_index else None
        if use_index and postings is None:
            raise ValueError("no sparse index built; call build_sparse_index()")
        return hybrid_search_many(self.read_latest(), postings, queries, req,
                                  **hybrid_kwargs)
