"""Tenant + collection catalog — the reference's DDL surface, Spark-native.

Reference surface reproduced (citations into /root/reference):
- S1 `set_vector_store` — tenant database setup
  (app/milvus/milvus_helper.py:281-322, base_milvus.py:1478-1495,
  db create :1511-1523). Here: a warehouse directory per tenant plus a row
  in the `_catalog/tenants` table. User/role/grant handling is metadata the
  reference stores in Milvus RBAC; we record the tenant row only (auth is an
  API-layer concern, SURVEY.md §2.5).
- S2 `generate_schema` — collection DDL + index params
  (milvus_helper.py:324-403, base_milvus.py:1074-1136 custom schema,
  :1190-1214 create, :1266-1310 index params). Here: a collection directory
  (parquet) plus a row in `_catalog/collections` carrying dimension, metric,
  nlist, index_type, metadata_length, drop_ratio_build. Index types
  IVF_SQ8 and IVF_PQ EXECUTE as real scalar/product quantization
  (plans/sq8.py, plans/pq.py — coded tables partitioned by IVF cell);
  HNSW executes as real graph ANN (plans/hnsw.py — persisted neighbor-graph
  tables, per-cell medoid entry points, driver-coordinated best-first beam
  with exact re-rank; since r5).
- S5 `describe_collection` (vector_store.py:207-263): schema read-back.
- S6 existence checks (base_milvus.py:500-540).

Validation mirrors app/models/generate_schema_request.py:27-64 and
app/utils/input_validator.py:169-170: dimension 1..4096, nlist 1..65536,
metric ∈ {COSINE, L2, IP}, index_type ∈ {IVF_FLAT, IVF_SQ8, IVF_PQ, HNSW},
metadata_length 256..65535, drop_ratio_build 0..1.

Design note (100 TB): the catalog itself is tiny metadata — stored as
single-file parquet, read on the driver. Collection DATA lives in
partitioned parquet under the warehouse; nothing here touches executors.
"""

from __future__ import annotations

import json
import os
import re
import time
import warnings
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flouds_vectordb_spark.sources.tables import read_parquet

VALID_METRICS = ("COSINE", "L2", "IP")
VALID_INDEX_TYPES = ("IVF_FLAT", "IVF_SQ8", "IVF_PQ", "HNSW")
# Reference pk dtype map (base_milvus.py:904-917): INT is an alias for
# INT64, STRING for VARCHAR. INT64 implies auto_id (base_milvus.py:938).
PK_TYPE_ALIASES = {"VARCHAR": "VARCHAR", "STRING": "VARCHAR",
                   "INT64": "INT64", "INT": "INT64"}


def validate_tenant_code(tenant: str) -> str:
    """Reference validate_tenant_code (input_validator.py:65-99): strip +
    lowercase; [a-z0-9_], 3-50 chars — or exactly 2 chars containing a
    digit (the reference's short-tenant special case). Returns the
    NORMALIZED code; all catalog keys/paths use it, so ACME and acme are
    the same tenant, as in the reference."""
    if not tenant or not isinstance(tenant, str):
        raise ValueError("Tenant code must be a non-empty string")
    clean = tenant.strip().lower()
    if len(clean) == 2:
        if not re.match(r"^[a-z0-9_]{2}$", clean) or not re.search(r"\d", clean):
            raise ValueError(
                "Tenant code must be 3-50 characters, alphanumeric and underscores only")
    elif not re.match(r"^[a-z0-9_]{3,50}$", clean):
        raise ValueError(
            "Tenant code must be 3-50 characters, alphanumeric and underscores only")
    return clean


def validate_model_name(model: str) -> str:
    """Reference validate_model_name (input_validator.py:129-153): strip +
    lowercase; [a-z0-9_.-], 1-100 chars (no path separators can get into
    collection_path)."""
    if not model or not isinstance(model, str):
        raise ValueError("Model name must be a non-empty string")
    clean = model.strip().lower()
    if not re.match(r"^[a-z0-9_.-]{1,100}$", clean):
        raise ValueError(
            "Model name must be 1-100 characters, alphanumeric, underscores, "
            "hyphens, and dots only")
    return clean


def collection_name(tenant: str, model: str) -> str:
    """Reference naming: vector_store_schema_for_{tenant}_{model}, lowercased,
    '-'/'.' -> '_' (base_milvus.py:487-497)."""
    raw = f"vector_store_schema_for_{tenant}_{model}".lower()
    return re.sub(r"[-.]", "_", raw)


def tenant_db_name(tenant: str) -> str:
    """Reference naming: {tenant}_vectorstore (base_milvus.py:465-477)."""
    return f"{tenant.lower()}_vectorstore"


@dataclass
class CollectionSpec:
    """The generate_schema parameter surface (generate_schema_request.py:27-64)."""

    tenant: str
    model: str
    dimension: int
    metric_type: str = "COSINE"
    nlist: int = 1024
    index_type: str = "IVF_FLAT"
    metadata_length: int = 4096
    drop_ratio_build: float = 0.1
    # enable_dynamic_field=True on the reference schema
    # (base_milvus.py:992-997): unknown insert-payload keys are stored, not
    # rejected. Here they ride an OPTIONAL `_extras` map<string,string>
    # column (values are the JSON-literal strings of whatever the client
    # sent); sources/json_ingest.py captures them, dense_search projects
    # them via extra_cols.
    enable_dynamic_field: bool = True
    # Reference primary_key_data_type (base_milvus.py:894-947): VARCHAR
    # (default, client-supplied string pk, max_length 256) or INT64, in
    # which case the pk is AUTO-ASSIGNED (auto_id=True is implied by the
    # INT64 dtype in the reference schema builder, base_milvus.py:938) and
    # client-supplied ids are rejected. INT/STRING are accepted aliases.
    primary_key_data_type: str = "VARCHAR"

    @property
    def pk_type(self) -> str:
        return PK_TYPE_ALIASES.get(self.primary_key_data_type.upper(),
                                   self.primary_key_data_type.upper())

    @property
    def auto_id(self) -> bool:
        return self.pk_type == "INT64"

    def validate(self) -> None:
        if not (1 <= self.dimension <= 4096):
            raise ValueError(f"dimension must be 1..4096, got {self.dimension}")
        if not (1 <= self.nlist <= 65536):
            raise ValueError(f"nlist must be 1..65536, got {self.nlist}")
        if self.metric_type.upper() not in VALID_METRICS:
            raise ValueError(f"metric_type must be one of {VALID_METRICS}")
        if self.index_type.upper() not in VALID_INDEX_TYPES:
            raise ValueError(f"index_type must be one of {VALID_INDEX_TYPES}")
        if not (256 <= self.metadata_length <= 65535):
            raise ValueError(f"metadata_length must be 256..65535")
        if not (0.0 <= self.drop_ratio_build <= 1.0):
            raise ValueError("drop_ratio_build must be 0..1")
        if self.primary_key_data_type.upper() not in PK_TYPE_ALIASES:
            raise ValueError(
                f"primary_key_data_type must be one of "
                f"{sorted(PK_TYPE_ALIASES)}, got {self.primary_key_data_type!r}")


def collection_schema(dim: int, pk_type: str = "VARCHAR") -> T.StructType:
    """The one collection schema (base_milvus.py:920-997 -> SURVEY §1.2):
    pk | chunk | dense vector | sparse vector | meta map | batch_ts.
    pk_type follows the reference dtype map (base_milvus.py:904-917):
    VARCHAR -> StringType, INT64 -> LongType (auto-assigned on insert).
    Collections with enable_dynamic_field may additionally carry an
    `_extras` map<string,string> column (schema-on-write escape hatch,
    base_milvus.py:992-997) — optional per batch, parquet schema merge
    handles its presence/absence across segments."""
    pk = PK_TYPE_ALIASES.get(pk_type.upper(), "VARCHAR")
    id_type = T.LongType() if pk == "INT64" else T.StringType()
    return T.StructType([
        T.StructField("id", id_type, False),
        T.StructField("chunk", T.StringType(), True),
        T.StructField("vector", T.ArrayType(T.FloatType()), False),
        T.StructField("sparse_vector", T.MapType(T.LongType(), T.DoubleType()), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("batch_ts", T.LongType(), False),
    ])


# ---- manifest-pointer data layout (r12, VERDICT ask #7) ----------------------
# A collection root holds either loose parquet segments (the append-only
# layout every collection starts with) or a pointer file _CURRENT naming
# a generation subdirectory (_gen-NNNNNN) that holds the compacted state.
# flush() writes the new generation to an underscore-prefixed dir (Spark
# ignores those in a directory scan, so a concurrent reader of the old
# layout never sees half-written data), then atomically os.replace()s the
# ONE pointer file. Readers resolve the pointer and read a directory that
# is never renamed or missing — the r11 seam-retry loop and its 2 s
# FileNotFound failure mode are gone. The PREVIOUS generation is kept
# until the NEXT flush (so a reader that resolved the pointer just before
# a commit still finds its files), then swept; on a cluster this is the
# seam a transactional table format (Delta/Iceberg atomic commit)
# replaces — the pointer protocol keeps plain parquet safe on one writer.
CURRENT_PTR = "_CURRENT"


def resolve_data_dir(path: str) -> str:
    """Collection root -> the directory its data currently lives in."""
    try:
        with open(os.path.join(path, CURRENT_PTR)) as f:
            gen = f.read().strip()
    except OSError:
        return path
    return os.path.join(path, gen) if gen else path


def latest_wins(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Each id's newest version (largest batch_ts): append-upserts leave
    several versions of an id in the data and index tables until a
    flush/compaction rewrites them."""
    w = Window.partitionBy(id_col).orderBy(F.col("batch_ts").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


class Catalog:
    """File-backed tenant/collection catalog rooted at a warehouse dir."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # ---- paths -------------------------------------------------------------
    def _meta_path(self, kind: str) -> str:
        return os.path.join(self.warehouse, "_catalog", f"{kind}.json")

    def collection_path(self, tenant: str, model: str) -> str:
        return os.path.join(self.warehouse, tenant_db_name(tenant), collection_name(tenant, model))

    # ---- tiny JSON metadata store (driver-side, atomic rename) -------------
    def _read_meta(self, kind: str) -> dict:
        p = self._meta_path(kind)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _write_meta(self, kind: str, data: dict) -> None:
        p = self._meta_path(kind)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
        os.replace(tmp, p)

    def _mutate_meta(self, kind: str, fn):
        """Atomic read-modify-write of one metadata file. The per-kind file
        is SHARED across tenants/collections, so two writers mutating
        DIFFERENT rows would otherwise lose each other's update (e.g. one
        collection's auto_id high-water mark reverted by another's DDL —
        duplicate INT64 pks downstream). A short-wait per-kind lock
        serializes the micro-RMW; mutations are tiny dict edits, so the
        30 s wait budget is orders of magnitude above contention."""
        from flouds_vectordb_spark.locks import WriterLock

        lock = WriterLock(os.path.join(self.warehouse, "_catalog",
                                       f"{kind}.lock"), stale_after=300.0)
        lock.acquire(wait_s=30.0)
        try:
            data = self._read_meta(kind)
            result = fn(data)
            self._write_meta(kind, data)
            return result
        finally:
            lock.release()

    # ---- S1: tenant DDL ----------------------------------------------------
    def set_vector_store(self, tenant: str) -> dict:
        tenant = validate_tenant_code(tenant)
        db = tenant_db_name(tenant)

        def mutate(tenants: dict) -> bool:
            created = tenant not in tenants
            if created:
                tenants[tenant] = {"db": db, "created_at": int(time.time())}
            return created

        created = self._mutate_meta("tenants", mutate)
        if created:
            os.makedirs(os.path.join(self.warehouse, db), exist_ok=True)
        return {"tenant": tenant, "db": db, "created": created}

    def tenant_exists(self, tenant: str) -> bool:
        return validate_tenant_code(tenant) in self._read_meta("tenants")

    # ---- S2: collection DDL ------------------------------------------------
    def generate_schema(self, spec: CollectionSpec) -> dict:
        spec.validate()
        spec.tenant = validate_tenant_code(spec.tenant)
        spec.model = validate_model_name(spec.model)
        if not self.tenant_exists(spec.tenant):
            raise ValueError(f"unknown tenant {spec.tenant!r}; call set_vector_store first")
        name = collection_name(spec.tenant, spec.model)

        def mutate(colls: dict) -> dict:
            if name in colls:
                # idempotent like the reference: an existing collection is
                # reported, not an error (base_milvus.py:1203-1214)
                return {"collection": name, **colls[name], "schema_exists": True}
            colls[name] = {**asdict(spec),
                           "path": self.collection_path(spec.tenant, spec.model)}
            return {"collection": name, **colls[name], "schema_exists": False}

        out = self._mutate_meta("collections", mutate)
        os.makedirs(out["path"], exist_ok=True)
        return out

    # ---- S5: describe ------------------------------------------------------
    def describe_collection(self, tenant: str, model: str) -> dict:
        name = collection_name(validate_tenant_code(tenant), validate_model_name(model))
        colls = self._read_meta("collections")
        if name not in colls:
            raise ValueError(f"collection {name!r} does not exist")
        return colls[name]

    def vector_dimension(self, tenant: str, model: str) -> int:
        """Reference `_get_vector_dimension` (vector_store.py:207-263)."""
        return int(self.describe_collection(tenant, model)["dimension"])

    def update_collection_meta(self, tenant: str, model: str, **kv) -> dict:
        """Merge small metadata keys (e.g. the auto-id high-water mark)
        into a collection's catalog row. Driver-side, atomic-rename — the
        same durability model as the rest of the catalog."""
        name = collection_name(validate_tenant_code(tenant), validate_model_name(model))

        def mutate(colls: dict) -> dict:
            if name not in colls:
                raise ValueError(f"collection {name!r} does not exist")
            colls[name].update(kv)
            return colls[name]

        return self._mutate_meta("collections", mutate)

    # ---- S6: existence -----------------------------------------------------
    def collection_exists(self, tenant: str, model: str) -> bool:
        name = collection_name(validate_tenant_code(tenant), validate_model_name(model))
        return name in self._read_meta("collections")

    def list_collections(self, tenant: str | None = None) -> list[str]:
        colls = self._read_meta("collections")
        if tenant is None:
            return sorted(colls)
        return sorted(n for n, c in colls.items() if c["tenant"] == tenant)

    # ---- data access -------------------------------------------------------

    def read_collection(self, tenant: str, model: str) -> DataFrame:
        meta = self.describe_collection(tenant, model)
        path = resolve_data_dir(meta["path"])
        if not os.path.isdir(path) or not any(
                f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs):
            return self.spark.createDataFrame(
                [], collection_schema(meta["dimension"],
                                      meta.get("primary_key_data_type", "VARCHAR")))
        # segments may disagree on the optional _extras column; without
        # mergeSchema one arbitrary footer wins and can drop it. Footer
        # merge is metadata-only (no data scan) — fine at scale, and it
        # runs once per data layout: read_parquet reuses the scan until a
        # write changes the files under path.
        df = read_parquet(self.spark, path,
                          merge_schema=bool(meta.get("enable_dynamic_field", True)))
        # SNAPSHOT ISOLATION (r8): only batches whose data write COMPLETED
        # are visible — insert_data advances last_complete_ts strictly
        # after its parquet commit, so a reader racing a multi-file append
        # never sees a partial batch, and a crashed write's stray files
        # (burned ts, never completed) stay invisible. The filter is a
        # plain batch_ts predicate: parquet row-group stats prune it, and
        # segments written by one batch share one ts, so complete segments
        # pay only footer checks. Collections created before r8 carry no
        # watermark and read unfiltered (old behavior, documented).
        wm = meta.get("last_complete_ts")
        if wm is not None and "batch_ts" in df.columns:
            pred = F.col("batch_ts") <= int(wm)
            # optimistic multi-writer (r13, operators/multiwriter.py):
            # committed-but-not-yet-folded concurrent batches are visible
            # by explicit ts — a bounded isin over in-flight batches
            # only; the list drains at every fold, so the single-writer
            # read plan is unchanged when no concurrent ingest runs
            mw = [int(t) for t in meta.get("mw_committed", [])]
            if mw:
                pred = pred | F.col("batch_ts").isin(mw)
            df = df.filter(pred)
        return df


class ConfigKV:
    """S7 — the reference's config KV store (config_service.py:136-499:
    SQLite table config_kv(key, tenant_code, value, encrypted_flag),
    composite PK, upsert-on-conflict). Metadata layer, not a Spark
    operator (SURVEY §2.1); provided so a reference user has the full
    surface. Backed by the catalog's atomic-rename JSON meta store —
    driver-side, tiny, same durability model as the tenant/collection
    registry. Encryption-at-rest mirrors the reference
    (config_service.py:176-230,313-337): with the cryptography package
    present, encrypted=True stores the Fernet CIPHERTEXT under the
    warehouse's generated key (security.SecretStore — the reference's
    key_manager key-file scheme) and get_config() decrypts it back, while
    get_config_meta() still returns (None, True) (the reference's
    never-expose contract for metadata reads, config_service.py:313-337).
    Without the package, the value is stored VERBATIM with the flag
    (recoverable once a decrypting layer exists — documented fallback)."""

    def __init__(self, catalog: Catalog):
        self.catalog = catalog
        self._secrets = None

    def _secret_store(self):
        if self._secrets is None:
            from flouds_vectordb_spark.security import SecretStore

            self._secrets = SecretStore(self.catalog.warehouse)
        return self._secrets

    @staticmethod
    def _k(key: str, tenant_code: str) -> str:
        return f"{tenant_code}\x00{key}"

    def set_config(self, key: str, value: str, tenant_code: str = "",
                   encrypted: bool = False) -> None:
        if not key:
            raise ValueError("config key must be non-empty")
        value = str(value)
        ciphered = False
        if encrypted:
            store = self._secret_store()
            if store.available:
                value = store.encrypt(value)
                ciphered = True
            else:
                # the caller asked for at-rest encryption we cannot honor —
                # storing plaintext silently would hide the degraded mode
                warnings.warn(
                    "encrypted=True requested but the cryptography package "
                    "is unavailable; value stored PLAINTEXT at rest "
                    "(ciphered=False). Install 'cryptography' to honor "
                    "encryption-at-rest.", stacklevel=2)
        def mutate(data: dict) -> None:
            data[self._k(key, tenant_code)] = {
                "value": value,
                "encrypted": bool(encrypted),
                "ciphered": ciphered,
            }

        self.catalog._mutate_meta("config_kv", mutate)

    def get_config(self, key: str, tenant_code: str = "") -> str | None:
        """config_service.py:176-204 (_read_kv): encrypted rows DECRYPT on
        this path when the key is available; None otherwise."""
        row = self.catalog._read_meta("config_kv").get(self._k(key, tenant_code))
        if row is None:
            return None
        if not row["encrypted"]:
            return row["value"]
        if row.get("ciphered"):
            return self._secret_store().decrypt(row["value"])
        # no-crypto fallback stored the plaintext verbatim; returning it is
        # observably identical to the reference's decrypt-on-read
        return row["value"]

    def get_config_meta(self, key: str, tenant_code: str = "") -> tuple[str | None, bool]:
        row = self.catalog._read_meta("config_kv").get(self._k(key, tenant_code))
        if row is None:
            return None, False
        if row["encrypted"]:
            return None, True
        return row["value"], False

    def delete_config(self, key: str, tenant_code: str = "") -> None:
        self.catalog._mutate_meta(
            "config_kv", lambda data: data.pop(self._k(key, tenant_code), None))
