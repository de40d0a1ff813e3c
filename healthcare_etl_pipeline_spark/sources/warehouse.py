"""Warehouse: the 5 reference tables as partitioned Parquet directories,
written only through transactions (``TransactionalWarehouse``).

Re-expresses the reference's PostgreSQL schema (reference:
app/models/patient.py — patients :34-52, consent_records :58-76,
clinical_records :82-99, audit_log :105-116, pipeline_runs :122-136), the
DDL bootstrap (app/main.py:30-32 `create_all`) and its one-commit ingest
(app/api/routes.py:148).

Physical design for 100 TB (SURVEY.md §1.4):
- `clinical_records` partitioned by `resource_type` — replaces the reference's
  ix_clinical_resource_type index (patient.py:97) with partition pruning.
- `audit_log` partitioned by `dt = date(timestamp)` — replaces
  ix_audit_timestamp (patient.py:116); appends land in today's partition.
- `patients` unpartitioned (point lookups by id/mrn ride parquet min/max +
  dictionary filters); mrn uniqueness is enforced by the ingest anti-join
  (operators/ingest.py), not the store.
- run counts are LongType, deliberately fixing the reference's String(16)
  oddity (patient.py:133-134).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .commit_backend import (
    EXISTS,
    IN_FLIGHT,
    PUBLISHED,
    CommitBackend,
    LocalFSBackend,
)

PATIENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("encrypted_name", T.StringType(), False),
        T.StructField("encrypted_dob", T.StringType(), True),
        T.StructField("encrypted_ssn", T.StringType(), True),
        T.StructField("mrn", T.StringType(), False),
        T.StructField("gender", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

CONSENT_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("patient_id", T.StringType(), False),
        T.StructField("consent_type", T.StringType(), False),
        T.StructField("granted", T.BooleanType(), False),
        T.StructField("granted_at", T.TimestampType(), True),
        T.StructField("revoked_at", T.TimestampType(), True),
        T.StructField("source_document", T.StringType(), True),
    ]
)

CLINICAL_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("patient_id", T.StringType(), False),
        T.StructField("resource_type", T.StringType(), False),
        T.StructField("fhir_resource", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("recorded_at", T.TimestampType(), False),
    ]
)

AUDIT_LOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("actor", T.StringType(), False),
        T.StructField("action", T.StringType(), False),
        T.StructField("resource_type", T.StringType(), False),
        T.StructField("resource_id", T.StringType(), True),
        T.StructField("detail", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("dt", T.DateType(), False),  # partition column
    ]
)

PIPELINE_RUNS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("pipeline_name", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.TimestampType(), False),
        T.StructField("completed_at", T.TimestampType(), True),
        T.StructField("input_record_count", T.LongType(), True),
        T.StructField("output_record_count", T.LongType(), True),
        T.StructField("errors", T.StringType(), True),
        T.StructField("dag_definition", T.StringType(), True),
    ]
)

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "patients": PATIENTS_SCHEMA,
    "consent_records": CONSENT_RECORDS_SCHEMA,
    "clinical_records": CLINICAL_RECORDS_SCHEMA,
    "audit_log": AUDIT_LOG_SCHEMA,
    "pipeline_runs": PIPELINE_RUNS_SCHEMA,
}

PARTITION_COLUMNS: dict[str, list[str]] = {
    "patients": [],
    "consent_records": [],
    "clinical_records": ["resource_type"],
    "audit_log": ["dt"],
    "pipeline_runs": [],
}

CONSENT_TYPES = ("data_sharing", "research", "treatment")
RUN_STATUSES = ("pending", "running", "completed", "failed")


# ---------------------------------------------------------------------------
# Transactional warehouse: multi-table atomic ingest (reference parity)
# ---------------------------------------------------------------------------

RUN_ID_COL = "__run_id"
_RUN_ID_RE = re.compile(r"[^A-Za-z0-9_.-]")
STAGING_DIR = ".staging"  # dot-prefixed: invisible to Spark's file listing


#: safe type widenings (old -> allowed wider types): the parquet reader
#: upcasts narrow physical values under the wide declared schema, so old
#: files need no rewrite (Delta's type widening set, integral + float)
_WIDENINGS = {
    T.ByteType(): (T.ShortType(), T.IntegerType(), T.LongType()),
    T.ShortType(): (T.IntegerType(), T.LongType()),
    T.IntegerType(): (T.LongType(),),
    T.FloatType(): (T.DoubleType(),),
}


def _is_safe_widening(old: T.DataType, new: T.DataType) -> bool:
    return new in _WIDENINGS.get(old, ())


def _sanitize_run_id(raw: str) -> str:
    return _RUN_ID_RE.sub("_", raw)[:128]


class ConstraintViolationError(ValueError):
    """A staged frame contains rows violating a table CHECK constraint;
    nothing was published."""


class ConcurrentMergeError(RuntimeError):
    """The target table's live-run set changed between a merge's key scan
    and its commit — the rewrite would retire runs it never read. The
    merge publishes nothing; retry against the new snapshot."""


class NonAppendChangeError(RuntimeError):
    """An incremental window contains logical changes a rows-appended
    feed cannot represent (merge/update/overwrite rewrites, MoR deletes,
    GDPR erasure). Silently skipping them would desynchronize the
    consumer — full-refresh from the current snapshot instead, or pass
    ``strict=False`` to knowingly consume appends only."""


class BranchConflictError(RuntimeError):
    """Fast-forward merge refused: main advanced on a table the branch
    also changed since the fork point. Nothing was committed — rebase by
    re-running the branch's work on a fresh fork, or resolve by hand."""


class IncrementalWindowExpiredError(RuntimeError):
    """An incremental (CDC) read window references runs whose files were
    reclaimed by ``vacuum`` after a compaction superseded them — the same
    condition as an Iceberg incremental scan over expired snapshots. The
    consumer must fall back to a full refresh from the current snapshot."""


class Transaction:
    """One multi-table atomic write unit.

    Each transaction stages into a PRIVATE directory
    (``<table>/.staging/<run_id>.<nonce>/``) so concurrent transactions —
    even two retries of the SAME batch_id racing from separate drivers —
    never interleave files. ``commit()`` renames the staged dirs to
    ``<table>/__run_id=<run_id>/`` and publishes them with ONE atomic
    hard-link of the commit marker; exactly one committer of a given
    run_id wins (the rest see ``False``). ``abort()`` (or a crash — no
    marker) leaves staged files permanently invisible; ``vacuum`` reclaims
    them.
    """

    def __init__(self, warehouse: "TransactionalWarehouse", run_id: str):
        self._wh = warehouse
        self.run_id = run_id
        self.nonce = uuid.uuid4().hex[:12]
        self.staged_tables: list[str] = []
        self.replaces: dict[str, list[str]] = {}
        self.restores: dict[str, list[str]] = {}
        self.renames: dict[str, list[list[str]]] = {}  # table -> [[old,new]]
        self.partition_specs: dict[str, list[str]] = {}  # table -> new spec
        self.operation = "write"  # history label: append/merge/compact/...
        #: ref this commit lands on (None = main) — inherited from the
        #: warehouse handle that opened it, so every existing DML verb
        #: (merge/delete_where/compact/rollback/...) is branch-aware for
        #: free when invoked through a branch view
        self.branch: str | None = warehouse._ref
        self.extra_manifest: dict = {}  # merge_branch provenance etc.
        self._done = False
        self._already_committed = False  # set by begin() for committed ids

    def _stage_dir(self, table: str) -> str:
        return os.path.join(
            self._wh.path(table), STAGING_DIR, f"{self.run_id}.{self.nonce}"
        )

    def stage(self, df: DataFrame, table: str) -> None:
        if self._done or self._already_committed:
            raise RuntimeError(f"transaction {self.run_id} already finished")
        schema = self._wh.table_schema(table)
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(df[f.name].cast(f.dataType).alias(f.name))
            elif f.nullable:
                # additive schema evolution: an old-schema producer may not
                # carry columns added later — null-fill them (Iceberg's
                # read-side default, applied symmetrically on write)
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                raise ValueError(
                    f"staged frame for {table!r} lacks required column {f.name!r}"
                )
        aligned = df.select(*cols)
        self._wh.check_constraints(aligned, table)
        writer = aligned.write.mode("append")
        parts = self._wh.partition_columns(table)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(self._stage_dir(table))
        if table not in self.staged_tables:
            self.staged_tables.append(table)

    def commit(self) -> bool:
        """Publish every staged table at once.

        Commit protocol — every step is either atomic or idempotent,
        using only the two primitives of the warehouse's
        :class:`~.commit_backend.CommitBackend` (POSIX rename/link on
        local FS; conditional PUT alone on object stores):

        1. ``backend.publish_dir`` each private staging dir to its final
           ``__run_id=<run_id>`` dir, in sorted table order. A dir a
           same-run_id peer already COMPLETED counts as published (same
           batch, identical semantics — this committer keeps going, which
           also recovers a peer that crashed after publishing data but
           before the marker). A dir a peer claimed but has not completed
           means that peer is (or was) mid-publish — this transaction
           cleans its staging and reports False; if the peer died, the
           batch stays invisible and a ``begin(batch_id)`` retry wipes
           and republishes it.
        2. Claim the next snapshot ``seq`` via ``put_if_absent`` on
           ``_txn/seqs/<seq>.claim`` — strictly serialized across
           concurrent drivers; a crash between claim and marker leaves a
           harmless hole in the sequence.
        3. ``put_if_absent`` the manifest at ``_txn/commits/
           <run_id>.json`` — atomic create-if-absent with all-or-nothing
           content, so exactly one marker (with exactly one seq) ever
           exists per run_id, and readers see the whole multi-table batch
           or none.

        Returns False (no-op) if this run_id is already committed.
        """
        if self._already_committed:
            self._done = True
            return False
        if self._done:
            raise RuntimeError(f"transaction {self.run_id} already finished")
        self._done = True
        backend = self._wh.backend
        marker = self._wh.marker_path(self.run_id)
        if os.path.exists(marker):
            self._drop_staging()
            return False
        for table in sorted(self.staged_tables):
            dest = self._wh.run_dir(table, self.run_id)
            status = backend.publish_dir(self._stage_dir(table), dest)
            if status == IN_FLIGHT:
                # a peer claimed this dest but completion is not (yet)
                # observable — stand down; the peer's marker (or a retry
                # via begin()) finishes the batch
                self._drop_staging()
                return False
            if status == EXISTS:
                # peer already completed this table's data for the same
                # run_id — our identical copy is redundant
                shutil.rmtree(self._stage_dir(table), ignore_errors=True)
        seq = self._wh._claim_seq(self.run_id)
        manifest = {
            "run_id": self.run_id,
            "tables": sorted(self.staged_tables),
            # per-table run_ids this commit logically supersedes (compaction):
            # readers drop them the same instant this marker appears
            "replaces": self.replaces,
            # per-table run_ids this commit brings BACK to the live set
            # (rollback across a compaction boundary); applied at this
            # commit's snapshot position in the sequential fold
            "restores": self.restores,
            # metadata-only column renames (column mapping): files written
            # before this commit keep their physical names; readers remap
            "renames": self.renames,
            # partition evolution: runs from this commit on use the new
            # spec; earlier runs keep their directory layout
            "partition_specs": self.partition_specs,
            "operation": self.operation,
            "seq": seq,
            "format_version": 4,
        }
        if self.branch:
            manifest["branch"] = self.branch
        manifest.update(self.extra_manifest)
        if not backend.put_if_absent(marker, json.dumps(manifest)):
            return False  # concurrent committer published first
        self._wh._maybe_checkpoint()  # keep the marker tail short
        return True

    def _drop_staging(self) -> None:
        for table in self.staged_tables:
            shutil.rmtree(self._stage_dir(table), ignore_errors=True)

    def abort(self) -> None:
        """Discard the staged (never-visible) files."""
        self._done = True
        self._drop_staging()


class SnapshotReader:
    """Reads pinned to one snapshot of a :class:`TransactionalWarehouse`
    (see :meth:`TransactionalWarehouse.snapshot_reader`)."""

    def __init__(self, wh: "TransactionalWarehouse", as_of: int | str):
        self._wh = wh
        self.as_of = as_of

    def read(self, table: str) -> DataFrame:
        return self._wh.read(table, as_of=self.as_of)


class TransactionalWarehouse:
    """A directory-backed warehouse of the 5 reference tables (plus any
    registered extra tables) with an atomic multi-table commit protocol.

    Closes the reference's single-transaction ingest semantics
    (reference app/api/routes.py:148 — patients + consents + clinical +
    audit + run row in ONE session.commit()) without a database: the
    Iceberg-style recipe of staged data files + an atomically-renamed
    commit marker.

    Layout::

        <root>/<table>/__run_id=<id>/[<part>=<val>/]*.parquet   # staged data
        <root>/_txn/commits/<id>.json                           # commit point

    - ``__run_id`` doubles as a hive partition column, so "committed only"
      is a partition-pruning ``isin`` filter — at 100 TB the reader prunes
      at file-listing time and never opens uncommitted files, and the
      committed-id set lives in a marker directory (one tiny JSON per
      batch; the listing is the metastore round-trip, not a data scan).
    - A crash anywhere before the marker rename leaves every staged file
      invisible to every reader — no partial multi-table state.
    - Idempotent re-ingest: pass a stable ``batch_id`` to :meth:`begin`;
      a re-run of an already-committed batch becomes a no-op, and a
      half-staged crashed attempt is wiped and restaged cleanly.
    - ``compact`` folds committed runs back into few large files (the
      small-files story is unchanged).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        backend: CommitBackend | None = None,
    ):
        self.spark = spark
        self.root = root
        #: storage primitives the commit protocol rests on — LocalFSBackend
        #: (POSIX rename/link) by default; pass ConditionalPutBackend for
        #: S3-class stores with no atomic rename (commit_backend.py)
        self.backend: CommitBackend = backend or LocalFSBackend()
        self._extra_schemas: dict[str, T.StructType] = {}
        self._extra_partitions: dict[str, list[str]] = {}
        self._constraints: dict[str, dict[str, str]] = {}
        self._primary_keys: dict[str, list[str]] = {}
        #: ref this handle reads/writes — None = main; a branch view
        #: (:meth:`branch`) is a shallow copy with these two set, sharing
        #: every registry dict with the parent handle
        self._ref: str | None = None
        self._ref_base: int = 0
        #: base table → {index table → key columns}: erasure verbs
        #: (:meth:`forget`, :meth:`delete_where`) propagate to these in
        #: the SAME transaction (see :meth:`register_derived_index`)
        self._derived_indexes: dict[str, dict[str, list[str]]] = {}
        self._load_registrations()  # durable extra-table registry
        self._load_index_registrations()

    # -- CHECK constraints ---------------------------------------------------

    def add_constraint(self, table: str, name: str, predicate_sql: str) -> None:
        """Declare a CHECK constraint (SQL boolean expression over the
        table's columns, e.g. ``"value >= 0"``). Every subsequent
        :meth:`Transaction.stage` for the table verifies the staged frame
        in ONE aggregated pass (all constraints counted together) and
        raises :class:`ConstraintViolationError` before anything is
        written — the Delta ``ADD CONSTRAINT CHECK`` surface. NULL
        predicate results count as violations (constraints must hold,
        not merely not-fail, matching SQL CHECK with NULLs treated
        strictly — declare ``col IS NULL OR …`` to allow them)."""
        schema = self.table_schema(table)  # validates the table exists
        # fail fast on bad syntax or unknown columns: analyze the
        # predicate against an empty frame of the table schema (no job)
        local_frame(self.spark, [], schema).filter(
            F.expr(predicate_sql)
        ).schema
        self._constraints.setdefault(table, {})[name] = predicate_sql

    def drop_constraint(self, table: str, name: str) -> None:
        self._constraints.get(table, {}).pop(name, None)

    def check_constraints(self, df: DataFrame, table: str) -> None:
        """Raise unless every row of ``df`` satisfies every constraint
        declared for ``table``; one aggregate job for all constraints."""
        cons = self._constraints.get(table)
        if not cons:
            return
        aggs = [
            F.sum(
                F.when(
                    ~F.expr(sql) | F.expr(sql).isNull(), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias(name)
            for name, sql in cons.items()
        ]
        row = df.agg(*aggs).first()
        bad = {name: int(row[name] or 0) for name in cons if row[name]}
        if bad:
            raise ConstraintViolationError(
                f"staged frame for {table!r} violates constraints {bad}"
            )

    # -- table registry -----------------------------------------------------

    def register_table(
        self,
        name: str,
        schema: T.StructType,
        *,
        partition_by: tuple[str, ...] = (),
        primary_key: tuple[str, ...] = (),
    ) -> None:
        """Declare an additional transactional table beyond the 5 reference
        ones — e.g. a streaming sink target. Same commit protocol, same
        committed-only reads.

        Re-registering an existing table performs ADDITIVE schema
        evolution: every existing field must be present with the same
        name and nullability, every new field must be nullable, and a
        field's type may only change by SAFE WIDENING (byte→short→int→
        long, float→double — Delta's type widening): the parquet reader
        upcasts old files' narrow values under the wide declared schema,
        so no rewrite is needed. Snapshots committed before the evolution
        are read with the new columns null-filled (the parquet reader
        projects the declared schema; missing columns read as null) — and
        :meth:`Transaction.stage` null-fills them symmetrically for
        old-schema producers, so both read and write paths survive a
        rolling schema upgrade. Any other change (drop, narrow/retype,
        nullable→required) raises.
        """
        if name in TABLE_SCHEMAS:
            raise ValueError(f"{name!r} is a built-in table")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"bad table name {name!r}")
        # normalize an OLD-schema producer's field names forward through
        # the committed rename chain before comparing/storing — a rolling
        # upgrade may re-register with pre-rename names, and since the
        # registry became durable (cold handles now load prior
        # registrations) that collision is reachable from any process
        schema = self._apply_renames(name, schema)
        prior = self._extra_schemas.get(name)
        if prior is not None:
            # compare against the CURRENT logical schema — a producer
            # re-registering after a rename supplies the renamed names
            prior = self._apply_renames(name, prior)
            new_fields = {f.name: f for f in schema.fields}
            for f in prior.fields:
                nf = new_fields.get(f.name)
                if nf is None:
                    raise ValueError(
                        f"schema evolution for {name!r} drops column {f.name!r}"
                        " — only additive changes are supported"
                    )
                type_ok = nf.dataType == f.dataType or _is_safe_widening(
                    f.dataType, nf.dataType
                )
                if not type_ok or nf.nullable != f.nullable:
                    raise ValueError(
                        f"schema evolution for {name!r} changes column "
                        f"{f.name!r} ({f.dataType.simpleString()} -> "
                        f"{nf.dataType.simpleString()}) — only additive "
                        "changes and safe type widening are supported"
                    )
            existing = {f.name for f in prior.fields}
            for f in schema.fields:
                if f.name not in existing and not f.nullable:
                    raise ValueError(
                        f"new column {f.name!r} on {name!r} must be nullable"
                        " (old snapshots null-fill it)"
                    )
            if list(partition_by) not in (
                self._extra_partitions.get(name, []),
                self.partition_columns(name),
            ):
                raise ValueError(
                    f"cannot change partitioning of {name!r} via"
                    " re-registration — use set_partition_spec"
                )
        self._extra_schemas[name] = schema
        self._extra_partitions[name] = list(partition_by)
        if primary_key:
            missing = [c for c in primary_key if c not in schema.fieldNames()]
            if missing:
                raise ValueError(f"primary_key columns {missing} not in schema")
            self._primary_keys[name] = list(primary_key)
        pk = self._primary_keys.get(name)
        if pk:
            # (re)derive the tombstone schema from the CURRENT table
            # schema so a widened key column widens its tombstones too
            tomb = self._tombstone_table(name)
            self._extra_schemas[tomb] = T.StructType([schema[c] for c in pk])
            self._extra_partitions[tomb] = self._extra_partitions.get(tomb, [])
        self._persist_registration(name)

    # -- durable table registry ---------------------------------------------

    def _tables_dir(self) -> str:
        return os.path.join(self.txn_root(), "tables")

    def _persist_registration(self, name: str) -> None:
        """Write the registration to ``_txn/tables/<name>.json`` so ANY
        later handle — another driver process, the streaming-sink commit
        worker, a branch view opened cold — sees the extra table without
        re-registering (before this, registrations were handle-local
        memory and extra tables silently vanished across processes).
        Atomic replace; re-registration (schema evolution) overwrites."""
        os.makedirs(self._tables_dir(), exist_ok=True)
        payload = {
            "name": name,
            "schema": self._extra_schemas[name].jsonValue(),
            "partition_by": self._extra_partitions.get(name, []),
            "primary_key": self._primary_keys.get(name, []),
        }
        tmp = os.path.join(self._tables_dir(), f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(payload, fh)
        os.replace(tmp, os.path.join(self._tables_dir(), f"{name}.json"))

    def _load_registrations(self) -> None:
        d = self._tables_dir()
        if not os.path.isdir(d):
            return
        for f in sorted(os.listdir(d)):
            if not f.endswith(".json"):
                continue
            try:
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    payload = json.load(fh)
            except (OSError, json.JSONDecodeError):
                continue
            name = payload["name"]
            if name in self._extra_schemas:
                continue  # in-memory (possibly newer) registration wins
            schema = T.StructType.fromJson(payload["schema"])
            self._extra_schemas[name] = schema
            self._extra_partitions[name] = list(
                payload.get("partition_by") or []
            )
            pk = list(payload.get("primary_key") or [])
            if pk:
                self._primary_keys[name] = pk
                tomb = self._tombstone_table(name)
                self._extra_schemas[tomb] = T.StructType(
                    [schema[c] for c in pk]
                )
                self._extra_partitions.setdefault(tomb, [])

    # -- derived-index registry ----------------------------------------------

    def _indexes_dir(self) -> str:
        return os.path.join(self.txn_root(), "indexes")

    def register_derived_index(
        self, index_table: str, *, base_table: str, key: tuple[str, ...]
    ) -> None:
        """Declare ``index_table`` as DERIVED from ``base_table``, keyed by
        the shared ``key`` columns (e.g. a MinHash-LSH band-bucket index
        keyed by ``doc_id``, or any materialized per-row sidecar).

        What the declaration buys — erasure consistency: :meth:`forget`
        and :meth:`delete_where` on the base table propagate to the index
        rows of the erased keys IN THE SAME TRANSACTION, so a forgotten
        document can never keep suppressing future near-duplicates (or
        surface as a neighbor) through stale index entries: readers
        observe base and index erasure at the same commit instant. This
        is the GDPR contract the base tables already have, extended to
        their derived state.

        The index is also given ``key`` as its primary key (if it has
        none), enabling merge-on-read tombstones: :meth:`delete_where`
        hides EVERY index row of a deleted key via the tombstone
        anti-join, and a later :meth:`compact` of the index applies and
        retires them physically — key-granularity deletion vectors, same
        as the base path.

        Scope: erasure verbs only. Writers that UPDATE base rows (merge/
        overwrite_where) must refresh the index rows themselves — the
        incremental maintenance path (e.g. ``dedup_index.dedup_increment``)
        already commits base + index rows in one transaction.

        Durable: persisted under ``_txn/indexes/``, so any later handle
        (another driver, a cold branch view) enforces the same
        propagation. Both tables must already be registered; key columns
        must exist in both schemas with equal types.
        """
        base_schema = self.table_schema(base_table)  # validates existence
        idx_schema = self.table_schema(index_table)
        for c in key:
            if c not in base_schema.fieldNames():
                raise ValueError(f"key column {c!r} not in {base_table!r}")
            if c not in idx_schema.fieldNames():
                raise ValueError(f"key column {c!r} not in {index_table!r}")
            if base_schema[c].dataType != idx_schema[c].dataType:
                raise ValueError(
                    f"key column {c!r} type differs between {base_table!r}"
                    f" ({base_schema[c].dataType.simpleString()}) and"
                    f" {index_table!r} ({idx_schema[c].dataType.simpleString()})"
                )
        prior_pk = self._primary_keys.get(index_table)
        if prior_pk is not None and prior_pk != list(key):
            raise ValueError(
                f"{index_table!r} already has primary_key {prior_pk} — a"
                f" derived index must be keyed by it (got {list(key)})"
            )
        if prior_pk is None:
            self._primary_keys[index_table] = list(key)
            tomb = self._tombstone_table(index_table)
            self._extra_schemas[tomb] = T.StructType([idx_schema[c] for c in key])
            self._extra_partitions.setdefault(tomb, [])
            if index_table in self._extra_schemas:
                self._persist_registration(index_table)
        self._derived_indexes.setdefault(base_table, {})[index_table] = list(key)
        os.makedirs(self._indexes_dir(), exist_ok=True)
        payload = {
            "index_table": index_table,
            "base_table": base_table,
            "key": list(key),
        }
        tmp = os.path.join(self._indexes_dir(), f".{index_table}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(payload, fh)
        os.replace(tmp, os.path.join(self._indexes_dir(), f"{index_table}.json"))

    def _load_index_registrations(self) -> None:
        d = self._indexes_dir()
        if not os.path.isdir(d):
            return
        for f in sorted(os.listdir(d)):
            if not f.endswith(".json"):
                continue
            try:
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    payload = json.load(fh)
            except (OSError, json.JSONDecodeError):
                continue
            self._derived_indexes.setdefault(payload["base_table"], {})[
                payload["index_table"]
            ] = list(payload["key"])

    def derived_indexes_of(self, base_table: str) -> dict[str, list[str]]:
        """{index table → key columns} registered as derived from
        ``base_table`` (empty when none)."""
        return dict(self._derived_indexes.get(base_table, {}))

    def _renames_for(self, table: str) -> list[tuple[int, str, str]]:
        """Committed column renames for ``table`` in snapshot order:
        [(seq, old, new)] — read from the commit markers, so a fresh
        process sees renames made by any earlier producer."""
        out = []
        for m in self._manifests():
            for o, n in (m.get("renames") or {}).get(table, []):
                out.append((m.get("seq", 0), o, n))
        return out

    def _apply_renames(self, table: str, schema: T.StructType) -> T.StructType:
        """CURRENT logical schema: the registered schema with every
        committed rename applied in order. A rename whose old name is
        absent is skipped — a producer that registered the post-rename
        schema already reflects it."""
        renames = self._renames_for(table)
        if not renames:
            return schema
        fields = list(schema.fields)
        for _seq, o, n in renames:
            names = [f.name for f in fields]
            if o in names and n not in names:
                i = names.index(o)
                f = fields[i]
                fields[i] = T.StructField(n, f.dataType, f.nullable)
        return T.StructType(fields)

    def table_schema(self, table: str) -> T.StructType:
        if table in TABLE_SCHEMAS:
            return TABLE_SCHEMAS[table]
        if table in self._extra_schemas:
            return self._apply_renames(table, self._extra_schemas[table])
        raise KeyError(f"unknown warehouse table {table!r}")

    def rename_column(self, table: str, old: str, new: str) -> None:
        """Metadata-only column rename (Delta column mapping / Iceberg
        rename): ONE commit marker records ``old -> new``; no data file
        is touched. Files written before the rename keep their physical
        names — readers remap them per snapshot epoch (:meth:`_read_raw`),
        writers stage under the new logical name from the next commit on.
        All reads (including time travel to pre-rename snapshots) present
        the CURRENT logical schema, as with Delta's column mapping —
        the mapping is table metadata, shared by every snapshot.

        Only extra (``register_table``) tables support renames; the five
        reference tables' schemas are fixed contracts. Partition and
        primary-key columns cannot be renamed (their names are baked into
        directory layouts and tombstone schemas)."""
        if table in TABLE_SCHEMAS:
            raise ValueError(f"{table!r} is a built-in table — fixed schema")
        schema = self.table_schema(table)
        names = schema.fieldNames()
        if old not in names:
            raise KeyError(f"{table!r} has no column {old!r}")
        if new in names:
            raise ValueError(f"{table!r} already has a column {new!r}")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"bad column name {new!r}")
        if old in self.partition_columns(table):
            raise ValueError(f"cannot rename partition column {old!r}")
        if old in self._primary_keys.get(table, []):
            raise ValueError(f"cannot rename primary-key column {old!r}")
        # a CHECK constraint referencing the old name would fail to
        # resolve at the next stage — block the rename instead (Delta
        # blocks renames referenced by constraints the same way)
        renamed = T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name, f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )
        for cname, sql in self._constraints.get(table, {}).items():
            try:
                local_frame(self.spark, [], renamed).filter(
                    F.expr(sql)
                ).schema
            except Exception as exc:
                raise ValueError(
                    f"cannot rename {table}.{old}: CHECK constraint "
                    f"{cname!r} ({sql}) references it — drop and re-add "
                    "the constraint under the new name"
                ) from exc
        txn = self.begin(operation="rename_column")
        txn.renames[table] = [[old, new]]
        txn.commit()

    def _spec_changes_for(self, table: str) -> list[tuple[int, list[str]]]:
        """Committed partition-spec changes for ``table`` in snapshot
        order: [(seq, spec)] — from the markers, like renames."""
        out = []
        for m in self._manifests():
            spec = (m.get("partition_specs") or {}).get(table)
            if spec is not None:
                out.append((m.get("seq", 0), list(spec)))
        return out

    def partition_columns(self, table: str) -> list[str]:
        if table in PARTITION_COLUMNS:
            return PARTITION_COLUMNS[table]
        registered = self._extra_partitions.get(table, [])
        if table not in self._extra_schemas:
            return registered
        changes = self._spec_changes_for(table)
        return changes[-1][1] if changes else registered

    def set_partition_spec(self, table: str, partition_by: tuple[str, ...]) -> None:
        """Partition EVOLUTION (Iceberg's evolve-spec): one metadata
        commit switches the table's write-time layout; no data file is
        touched. Runs committed before the change keep their directory
        layout — readers group runs by spec epoch (:meth:`_read_raw`) and
        scan each with its own hive discovery, so old and new layouts
        coexist under one logical table. Writers (including compaction
        rewrites, which therefore MIGRATE data to the new spec) use the
        current spec from the next commit on.

        Only extra (``register_table``) tables evolve; spec columns must
        exist in the schema. Every internal reader — including
        :meth:`read_skipping` and the stats indexers — groups files by
        spec epoch, so old indexes stay valid across an evolution.
        """
        if table in TABLE_SCHEMAS:
            raise ValueError(f"{table!r} is a built-in table — fixed layout")
        schema = self.table_schema(table)
        missing = [c for c in partition_by if c not in schema.fieldNames()]
        if missing:
            raise ValueError(
                f"partition columns {missing} not in {table!r} schema"
            )
        if list(partition_by) == self.partition_columns(table):
            return  # no-op: already the current spec
        txn = self.begin(operation="set_partition_spec")
        txn.partition_specs[table] = list(partition_by)
        txn.commit()

    def all_tables(self) -> list[str]:
        return [*TABLE_SCHEMAS, *self._extra_schemas]

    def path(self, table: str) -> str:
        if table not in TABLE_SCHEMAS and table not in self._extra_schemas:
            raise KeyError(f"unknown warehouse table {table!r}")
        return os.path.join(self.root, table)

    def txn_root(self) -> str:
        return os.path.join(self.root, "_txn")

    def marker_path(self, run_id: str) -> str:
        return os.path.join(self.txn_root(), "commits", f"{run_id}.json")

    def run_dir(self, table: str, run_id: str) -> str:
        return os.path.join(self.path(table), f"{RUN_ID_COL}={run_id}")

    #: auto-write a log checkpoint every N commits (Delta checkpoints the
    #: JSON log every 10; 32 keeps the tail short with fewer rewrites)
    CHECKPOINT_INTERVAL = 32

    def _checkpoint_path(self) -> str:
        return os.path.join(self.txn_root(), "checkpoint.json")

    def checkpoint_log(self) -> int:
        """Consolidate every commit marker into one checkpoint file, so
        :meth:`_manifests` opens O(new markers) files instead of
        O(total commits) — the log-compaction step every JSON-log table
        format performs (Delta's _last_checkpoint). Crash-safe: written
        to a temp name and renamed; markers are never deleted, so a
        missing/stale/corrupt checkpoint only costs speed, never
        correctness. Returns the number of manifests checkpointed."""
        manifests = self._read_manifests(use_checkpoint=False)
        payload = {
            "manifests": manifests,
            "covered": sorted(m["run_id"] for m in manifests),
        }
        tmp = os.path.join(self.txn_root(), ".checkpoint.tmp")
        os.makedirs(self.txn_root(), exist_ok=True)
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._checkpoint_path())
        return len(manifests)

    def _maybe_checkpoint(self) -> None:
        """Opportunistic auto-checkpoint after a commit: rewrite when the
        un-checkpointed tail reaches CHECKPOINT_INTERVAL markers. Safe
        under concurrent committers — every writer produces a checkpoint
        derived purely from the immutable markers, so last-rename-wins
        yields some valid consolidation either way."""
        commits = os.path.join(self.txn_root(), "commits")
        if not os.path.isdir(commits):
            return
        total = sum(
            1
            for f in os.listdir(commits)
            if f.endswith(".json") and not f.startswith(".")
        )
        covered = 0
        try:
            with open(self._checkpoint_path(), encoding="utf-8") as fh:
                covered = len(json.load(fh).get("covered", ()))
        except (OSError, json.JSONDecodeError):
            pass
        if total - covered >= self.CHECKPOINT_INTERVAL:
            self.checkpoint_log()

    def _read_manifests(self, *, use_checkpoint: bool = True) -> list[dict]:
        commits = os.path.join(self.txn_root(), "commits")
        if not os.path.isdir(commits):
            return []
        out: list[dict] = []
        covered: set[str] = set()
        if use_checkpoint:
            try:
                with open(self._checkpoint_path(), encoding="utf-8") as fh:
                    cp = json.load(fh)
                out = list(cp["manifests"])
                covered = {f"{r}.json" for r in cp["covered"]}
            except (OSError, json.JSONDecodeError, KeyError):
                out, covered = [], set()
        for f in sorted(os.listdir(commits)):
            if f.endswith(".json") and not f.startswith(".") and f not in covered:
                path = os.path.join(commits, f)
                with open(path, encoding="utf-8") as fh:
                    m = json.load(fh)
                # stamp the commit instant (write-once marker mtime) so
                # history()/resolve_timestamp() never re-stat old markers
                # once a checkpoint has absorbed them
                if "committed_at" not in m:
                    try:
                        m["committed_at"] = os.path.getmtime(path)
                    except OSError:
                        m["committed_at"] = None
                out.append(m)
        return sorted(out, key=lambda m: (m.get("seq", 0), m["run_id"]))

    def _manifests(self) -> list[dict]:
        """Commit manifests VISIBLE TO THIS REF in snapshot order (seq,
        then run_id for legacy seq-less markers, which sort first).
        Served from the log checkpoint plus the un-checkpointed marker
        tail — O(tail) file opens per call instead of O(total commits).

        Ref visibility (the single point every read/history/time-travel/
        CDC path flows through): the main handle sees only un-branched
        commits; a :meth:`branch` view sees main's prefix up to its fork
        seq plus the branch's own commits. Physical concerns (seq
        claiming, vacuum/fsck liveness, tombstone seq mapping) use the
        unfiltered :meth:`_read_manifests` instead."""
        ms = self._read_manifests()
        if self._ref is None:
            return [m for m in ms if not m.get("branch")]
        return [
            m
            for m in ms
            if (not m.get("branch") and m.get("seq", 0) <= self._ref_base)
            or m.get("branch") == self._ref
        ]

    def _seq_dir(self) -> str:
        return os.path.join(self.txn_root(), "seqs")

    def _claimed_seqs(self) -> list[int]:
        d = self._seq_dir()
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            if f.endswith(".claim"):
                try:
                    out.append(int(f[: -len(".claim")]))
                except ValueError:
                    pass
        return out

    def _claim_seq(self, run_id: str) -> int:
        """Atomically claim the next snapshot sequence number.

        ``put_if_absent`` on ``_txn/seqs/<seq>.claim`` is the
        serialization point: of N concurrent committers (threads OR
        separate driver processes), each claim object is created by
        exactly one, so snapshot order is a strict total order — no two
        commits ever share a seq. A crash between claim and marker
        leaves an unused seq (a hole), which readers — who order by the
        seqs recorded in markers — never see. On POSIX the primitive is
        an O_EXCL hard-link create; on object stores a conditional PUT
        (see commit_backend.py)."""
        d = self._seq_dir()
        os.makedirs(d, exist_ok=True)
        seq = (
            max(
                max(self._claimed_seqs(), default=0),
                # unfiltered: branch commits share the global seq chain
                max(
                    (m.get("seq", 0) for m in self._read_manifests()),
                    default=0,
                ),
            )
            + 1
        )
        while True:
            if self.backend.put_if_absent(
                os.path.join(d, f"{seq:020d}.claim"), run_id
            ):
                return seq
            seq += 1

    def published_frontier(self) -> int:
        """Highest snapshot seq with NO in-flight commit at or below it:
        every claimed seq <= the frontier has a published marker.

        ``commit()`` claims its seq BEFORE publishing the marker, so a
        later-claimed seq can become visible first. Incremental
        consumers that track progress as a single seq cursor (the CDC
        views in streaming/cdc.py) must cap their watermark here —
        consuming up to max-published-seq would put a late-published
        commit inside an already-processed window and skip its rows
        forever. (The Python Data Source stream reader instead carries
        the pending seqs in its offsets and back-fills them — a richer
        cursor; this is the conservative contiguous frontier for int
        cursors.) A claim whose committer crashed caps the frontier
        until :meth:`clear_stale_claims` removes it — snapshot reads are
        unaffected either way."""
        published = {m.get("seq", 0) for m in self._read_manifests()}
        maxpub = max(published, default=0)
        pending = [
            s
            for s in self._claimed_seqs()
            if s not in published and s <= maxpub
        ]
        return min(pending) - 1 if pending else maxpub

    def clear_stale_claims(self, *, max_age_seconds: float = 3600.0) -> list[int]:
        """Maintenance verb: delete claim files with no published marker
        older than ``max_age_seconds`` — a crashed committer's permanent
        sequence hole, which otherwise caps :meth:`published_frontier`
        (and every frontier-capped incremental consumer) forever.

        The age bound is the operator's liveness judgment, exactly like
        vacuum retention: never clear a claim a SLOW-but-live committer
        might still publish — its marker would land below the advanced
        frontier and be skipped by int-cursor consumers. Returns the
        cleared seqs."""
        import time

        d = self._seq_dir()
        if not os.path.isdir(d):
            return []
        published = {m.get("seq", 0) for m in self._read_manifests()}
        now = time.time()
        cleared = []
        for f in sorted(os.listdir(d)):
            if not f.endswith(".claim"):
                continue
            try:
                seq = int(f[: -len(".claim")])
            except ValueError:
                continue
            if seq in published:
                continue
            path = os.path.join(d, f)
            try:
                if now - os.path.getmtime(path) < max_age_seconds:
                    continue
                os.remove(path)
            except OSError:
                continue
            cleared.append(seq)
        return cleared

    def snapshots(self) -> list[dict]:
        """The table history: one row per commit, in snapshot order —
        [{seq, run_id, tables}]. Any entry's seq or run_id is a valid
        ``as_of`` for :meth:`read`."""
        return [
            {
                "seq": m.get("seq", 0),
                "run_id": m["run_id"],
                "tables": m.get("tables", []),
                "operation": m.get("operation", "write"),
            }
            for m in self._manifests()
        ]

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one entry per commit in snapshot order with
        the operation label (append/merge/overwrite/compact/optimize/
        rollback/forget/write), affected tables, retired and restored
        runs, and the commit instant (the write-once marker's mtime)."""
        out = []
        for m in self._manifests():
            ts = m.get("committed_at")
            out.append(
                {
                    "seq": m.get("seq", 0),
                    "run_id": m["run_id"],
                    "operation": m.get("operation", "write"),
                    "tables": m.get("tables", []),
                    "replaces": m.get("replaces", {}),
                    "restores": m.get("restores", {}),
                    "committed_at": ts,
                }
            )
        return out

    def committed_run_ids(self) -> list[str]:
        return sorted({m["run_id"] for m in self._manifests()})

    def committed_runs_for(
        self, table: str, as_of: int | str | None = None
    ) -> list[str]:
        """run_ids whose data is live for ``table``: committed (within the
        ``as_of`` snapshot prefix, when given) and not superseded by a
        compaction commit's ``replaces`` entry inside that same prefix."""
        manifests = self._manifests()
        if as_of is not None:
            as_of = self._resolve_snapshot(as_of)
            manifests = [m for m in manifests if m.get("seq", 0) <= as_of]
        # sequential fold in snapshot order: adds, then retirements, then
        # restorations (rollback markers) apply at their commit point —
        # so a run replaced by a compaction can be re-added by a later
        # rollback without resurrecting anything retroactively
        live: set[str] = set()
        for m in manifests:
            if table in m.get("tables", ()):
                live.add(m["run_id"])
            live.difference_update(m.get("replaces", {}).get(table, ()))
            live.update(m.get("restores", {}).get(table, ()))
        return sorted(live)

    def _resolve_snapshot(self, s: int | str) -> int:
        """seq | committed run_id | ``"tag:<name>"`` -> snapshot seq."""
        if isinstance(s, str):
            if s.startswith("tag:"):
                return self.resolve_tag(s[len("tag:"):])
            seqs = [
                m.get("seq", 0) for m in self._manifests() if m["run_id"] == s
            ]
            if not seqs:
                raise KeyError(f"unknown snapshot run_id {s!r}")
            return seqs[0]
        return s

    def changed_runs_for(
        self, table: str, since: int | str, until: int | str | None = None
    ) -> list[str]:
        """run_ids appended to ``table`` AFTER snapshot ``since`` and up to
        ``until`` (default: current), EXCLUDING compaction rewrites —
        a compaction commit carries a ``replaces`` entry and introduces no
        new rows, so an incremental consumer must skip it (the same rule as
        Iceberg's incremental append scan)."""

        lo = self._resolve_snapshot(since)
        hi = self._resolve_snapshot(until) if until is not None else None
        return sorted(
            m["run_id"]
            for m in self._manifests()
            if table in m.get("tables", ())
            and lo < m.get("seq", 0)
            and (hi is None or m.get("seq", 0) <= hi)
            and not m.get("replaces", {}).get(table)
        )

    def read_changes(
        self,
        table: str,
        since: int | str,
        until: int | str | None = None,
        *,
        strict: bool = True,
    ) -> DataFrame:
        """Incremental (CDC-style) read: only rows appended between the
        ``since`` snapshot (exclusive) and ``until`` (inclusive; default
        current). The downstream-sync primitive — a consumer that
        checkpoints the last seq it processed reads exactly-once without
        ever rescanning the table. Same partition-pruning ``isin`` plan as
        :meth:`read`: the run_id set prunes at file-listing time, so the
        scan cost is proportional to the CHANGE, not the table.

        This is an APPENDS-ONLY feed (Iceberg's incremental append
        scan). Physical rewrites that change no rows — compaction,
        OPTIMIZE — are skipped safely, and a rollback keeps its
        documented skip-until-refresh contract. But a window containing
        LOGICAL changes a row feed cannot represent — merge / update /
        overwrite rewrites, merge-on-read deletes, GDPR erasure — raises
        :class:`NonAppendChangeError` under ``strict`` (the default):
        silently serving only the appends would desynchronize the
        consumer without a trace. Pass ``strict=False`` to knowingly
        consume appends only.

        Raises :class:`IncrementalWindowExpiredError` when any run in the
        window was compacted away and then vacuumed — its run_ids are
        still in the commit log but the files are gone, and silently
        returning a partial changeset would be data loss for the
        consumer. (Iceberg raises the same way for incremental scans over
        expired snapshots.) The consumer's recovery is a full refresh
        from the current snapshot.
        """
        if strict:
            lo = self._resolve_snapshot(since)
            hi = self._resolve_snapshot(until) if until is not None else None
            tomb = self._tombstone_table(table)
            for m in self._manifests():
                seq = m.get("seq", 0)
                if seq <= lo or (hi is not None and seq > hi):
                    continue
                op = m.get("operation", "write")
                if (
                    m.get("replaces", {}).get(table)
                    and op not in ("compact", "optimize", "rollback")
                ):
                    raise NonAppendChangeError(
                        f"incremental window over {table!r} contains a "
                        f"{op!r} rewrite (run {m['run_id']}) — re-sync "
                        "from the current snapshot or pass strict=False"
                    )
                if tomb in m.get("tables", ()) and op == "delete":
                    raise NonAppendChangeError(
                        f"incremental window over {table!r} contains a "
                        f"merge-on-read delete (run {m['run_id']}) — "
                        "re-sync from the current snapshot or pass "
                        "strict=False"
                    )
                if op == "merge_branch" and (
                    table in m.get("restores", {})
                    or table in m.get("replaces", {})
                ):
                    # a branch merge ADOPTS runs (restores) the appends
                    # feed would skip — silently losing the branch's
                    # whole contribution. The NET change feed handles it
                    # (adopted runs surface as inserts), so strict
                    # consumers recover through the standard
                    # NonAppendChangeError -> read_change_feed path.
                    raise NonAppendChangeError(
                        f"incremental window over {table!r} contains a "
                        f"branch merge (run {m['run_id']}) — consume the "
                        "net change feed, re-sync from the current "
                        "snapshot, or pass strict=False"
                    )
        runs = self.changed_runs_for(table, since, until)
        return self._read_changes_runs(table, runs)

    def _read_changes_runs(self, table: str, runs: list[str]) -> DataFrame:
        schema = self.table_schema(table)
        if not runs:
            return local_frame(self.spark, [], schema)
        expired = [r for r in runs if not os.path.isdir(self.run_dir(table, r))]
        if expired:
            raise IncrementalWindowExpiredError(
                f"incremental window over {table!r} includes vacuumed runs "
                f"{expired} — the window expired; re-sync from the current "
                "snapshot"
            )
        return self._read_raw(table, runs=runs)

    def read_change_feed(
        self, table: str, since: int | str, until: int | str | None = None
    ) -> DataFrame:
        """NET row-level change feed between two snapshots (Delta CDF's
        net form): the table's columns plus ``_change_type`` in
        {'insert', 'delete', 'update_preimage', 'update_postimage'}.
        This is the consumer for the windows :meth:`read_changes` rejects
        with :class:`NonAppendChangeError` — merge/update/overwrite
        rewrites, merge-on-read deletes, erasure — expressed as row
        diffs a downstream sync can apply.

        Semantics are NET over the window: a row updated then deleted is
        one 'delete' with the window-start preimage; a deleted key
        re-inserted is an update pair; a row merely REWRITTEN unchanged
        (compaction, survivor restage in a copy-on-write op) does not
        appear at all. Requires the table to be registered with a
        ``primary_key``, and assumes keys are unique per snapshot (the
        merge contract).

        Scale shape: both sides are PRUNED scans — the window-start side
        reads only runs retired within the window (plus keys tombstoned
        in it), the window-end side only runs added within it — then one
        key-outer join classifies. Cost is proportional to the CHURN,
        not the table; a compaction inside the window rewrites every
        run, so churn degenerates to the table (as with any net-diff
        feed — window past compactions with :meth:`read_changes` when
        the log says nothing logical changed).
        """
        pk = self._primary_keys.get(table)
        if not pk:
            raise ValueError(
                f"{table!r} has no primary_key — register_table(...,"
                " primary_key=...) to enable the change feed"
            )
        lo = self._resolve_snapshot(since)
        hi = (
            self._resolve_snapshot(until)
            if until is not None
            else max((m.get("seq", 0) for m in self._manifests()), default=0)
        )
        live_lo = set(self.committed_runs_for(table, as_of=lo))
        live_hi = set(self.committed_runs_for(table, as_of=hi))
        expired = sorted(
            r
            for r in live_lo | live_hi
            if not os.path.isdir(self.run_dir(table, r))
        )
        if expired:
            # some run this diff must read was vacuumed (snapshot expiry):
            # a partial feed would silently lose changes — refuse, the
            # consumer's recovery is a full refresh (Iceberg raises the
            # same way for incremental scans over expired snapshots)
            raise IncrementalWindowExpiredError(
                f"change feed over {table!r} needs vacuumed runs "
                f"{expired[:5]} — full-refresh from the current snapshot"
            )
        retired = sorted(live_lo - live_hi)
        added = sorted(live_hi - live_lo)
        tomb = self._tombstone_table(table)
        tomb_runs = [
            m["run_id"]
            for m in self._manifests()
            if tomb in m.get("tables", ())
            and lo < m.get("seq", 0) <= hi
            and os.path.isdir(self.run_dir(tomb, m["run_id"]))
        ]
        tomb_keys = (
            self._read_raw(tomb, runs=tomb_runs).select(*pk).distinct()
            if tomb_runs
            else None
        )

        def _side(as_of: int, runs_subset: list[str]) -> DataFrame:
            base = self._read_raw(table, as_of=as_of, keep_run=True)
            cond = (
                F.col(RUN_ID_COL).isin(runs_subset)
                if runs_subset
                else F.lit(False)
            )
            if tomb_keys is not None:
                marked = base.join(
                    F.broadcast(tomb_keys.withColumn("__in_tomb", F.lit(True))),
                    list(pk),
                    "left",
                )
                base = marked.filter(
                    cond | F.col("__in_tomb").isNotNull()
                ).drop("__in_tomb")
            else:
                base = base.filter(cond)
            return self._apply_tombstones(base, table, as_of=as_of)

        old = _side(lo, retired)
        new = _side(hi, added)
        val_cols = [c for c in self.table_schema(table).fieldNames() if c not in pk]
        # dedicated presence markers per side: "any value column non-null"
        # would misclassify genuinely all-null rows
        o2 = old.select(*pk, F.lit(True).alias("__has_o"),
                        *[F.col(c).alias(f"__o_{c}") for c in val_cols])
        n2 = new.select(*pk, F.lit(True).alias("__has_n"),
                        *[F.col(c).alias(f"__n_{c}") for c in val_cols])
        j = o2.join(n2, list(pk), "full_outer")
        same = F.lit(True)
        for c in val_cols:
            same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        inserts = j.filter(F.col("__has_o").isNull()).select(
            *pk,
            *[F.col(f"__n_{c}").alias(c) for c in val_cols],
            F.lit("insert").alias("_change_type"),
        )
        deletes = j.filter(F.col("__has_n").isNull()).select(
            *pk,
            *[F.col(f"__o_{c}").alias(c) for c in val_cols],
            F.lit("delete").alias("_change_type"),
        )
        changed = j.filter(
            F.col("__has_o").isNotNull() & F.col("__has_n").isNotNull() & ~same
        )
        pre = changed.select(
            *pk,
            *[F.col(f"__o_{c}").alias(c) for c in val_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = changed.select(
            *pk,
            *[F.col(f"__n_{c}").alias(c) for c in val_cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    # -- branches & tags (zero-copy refs over the commit log) ---------------

    _REF_NAME_RE = re.compile(r"^[A-Za-z0-9_.-]{1,64}$")

    def _refs_dir(self) -> str:
        return os.path.join(self.txn_root(), "refs")

    def _tags_dir(self) -> str:
        return os.path.join(self.txn_root(), "tags")

    def _check_ref_name(self, name: str) -> None:
        if not self._REF_NAME_RE.match(name):
            raise ValueError(f"invalid ref name {name!r}")

    def list_branches(self) -> list[str]:
        d = self._refs_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            f[: -len(".json")] for f in os.listdir(d) if f.endswith(".json")
        )

    def list_tags(self) -> list[str]:
        d = self._tags_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            f[: -len(".json")] for f in os.listdir(d) if f.endswith(".json")
        )

    def create_branch(
        self, name: str, as_of: int | str | None = None
    ) -> "TransactionalWarehouse":
        """Fork a zero-copy branch at snapshot ``as_of`` (default: the
        current main snapshot) and return a handle onto it.

        A branch is one tiny ref object (``_txn/refs/<name>.json``, a
        conditional PUT — duplicate names lose atomically even across
        drivers). No data moves: branch commits are ordinary commits
        whose manifests carry a ``branch`` field, claimed off the same
        global seq chain, and the ref filter in :meth:`_manifests` is
        the only divergence point — so reads, time travel, DML, CDC and
        change feeds all work on a branch unchanged. Main never sees
        branch commits until :meth:`merge_branch`; the branch never sees
        main commits after its fork seq (repeatable experiment input).

        Branches fork from main only (no branch-of-branch)."""
        if self._ref is not None:
            raise ValueError("branches fork from main only")
        self._check_ref_name(name)
        base = (
            self._resolve_snapshot(as_of)
            if as_of is not None
            else max((m.get("seq", 0) for m in self._manifests()), default=0)
        )
        os.makedirs(self._refs_dir(), exist_ok=True)
        ref = {"name": name, "base_seq": base}
        path = os.path.join(self._refs_dir(), f"{name}.json")
        if not self.backend.put_if_absent(path, json.dumps(ref)):
            raise ValueError(f"branch {name!r} already exists")
        return self.branch(name)

    def branch(self, name: str) -> "TransactionalWarehouse":
        """A handle pinned to branch ``name``: a shallow copy of this
        warehouse sharing every registry (schemas, constraints, primary
        keys, backend, Spark session) with ref visibility switched — the
        copy costs nothing and holds no state beyond the two ref fields."""
        import copy as _copy

        path = os.path.join(self._refs_dir(), f"{name}.json")
        try:
            with open(path, encoding="utf-8") as fh:
                ref = json.load(fh)
        except OSError:
            raise KeyError(f"unknown branch {name!r}") from None
        view = _copy.copy(self)
        view._ref = name
        view._ref_base = int(ref["base_seq"])
        return view

    def delete_branch(self, name: str) -> None:
        """Drop the ref. A merged branch's runs stay live through the
        merge commit's restores; an UNMERGED branch's runs lose their
        only liveness anchor and become :meth:`vacuum` fuel — deleting
        an unmerged branch discards its writes, like any ref store."""
        path = os.path.join(self._refs_dir(), f"{name}.json")
        try:
            os.remove(path)
        except FileNotFoundError:
            raise KeyError(f"unknown branch {name!r}") from None

    def create_tag(self, name: str, as_of: int | str | None = None) -> int:
        """Pin an immutable name to a snapshot seq of THIS ref (default:
        current). Readable forever via ``read(..., as_of="tag:<name>")``
        — subject to :meth:`vacuum` retention, like any snapshot."""
        self._check_ref_name(name)
        seq = (
            self._resolve_snapshot(as_of)
            if as_of is not None
            else max((m.get("seq", 0) for m in self._manifests()), default=0)
        )
        os.makedirs(self._tags_dir(), exist_ok=True)
        path = os.path.join(self._tags_dir(), f"{name}.json")
        if not self.backend.put_if_absent(
            path, json.dumps({"name": name, "seq": seq})
        ):
            raise ValueError(f"tag {name!r} already exists")
        return seq

    def resolve_tag(self, name: str) -> int:
        path = os.path.join(self._tags_dir(), f"{name}.json")
        try:
            with open(path, encoding="utf-8") as fh:
                return int(json.load(fh)["seq"])
        except OSError:
            raise KeyError(f"unknown tag {name!r}") from None

    def delete_tag(self, name: str) -> None:
        try:
            os.remove(os.path.join(self._tags_dir(), f"{name}.json"))
        except FileNotFoundError:
            raise KeyError(f"unknown tag {name!r}") from None

    def merge_branch(self, name: str, strategy: str = "ff") -> dict:
        """Merge a branch's net effect onto main as ONE metadata-only
        commit (zero data copy — branch run dirs already sit in the
        table directories; only the ref filter hid them).

        Per touched table the commit's ``restores`` adopts runs live at
        the branch tip but not on main, and ``replaces`` retires main
        runs the branch rewrote (compaction/overwrite/merge on the
        branch) — the same sequential-fold verbs :meth:`rollback` uses,
        so readers, time travel, and vacuum need nothing new. Atomic
        across all touched tables like every commit.

        ``strategy="ff"`` (default) is fast-forward ONLY: if main
        advanced on any touched table after the fork seq (merge-on-read
        deletes count — they touch only ``__tomb_<t>`` but semantically
        advance ``t``), raises :class:`BranchConflictError` and commits
        nothing. Merging twice conflicts with the first merge by the
        same rule (rebase then ff-merge to repeat).

        ``strategy="union"`` is the three-way merge for DIVERGED
        histories whose divergence is pure appends: when every commit
        on BOTH sides of each conflicted table since the fork is an
        append (no compaction/overwrite/rollback/tombstone), appends
        interleave commutatively, so the merge adopts the branch's runs
        and keeps main's interim runs — the row union. True conflicts
        are still refused: non-append DML on either side, and (for
        primary-key tables) the same key inserted on both sides since
        the fork — the overlap check is one distributed anti-join over
        only the post-fork runs, never a full-table scan."""
        if self._ref is not None:
            raise ValueError("merge_branch must run on the main handle")
        view = self.branch(name)
        all_ms = self._read_manifests()
        branch_ms = [m for m in all_ms if m.get("branch") == name]
        if not branch_ms:
            return {"merged": False, "tables": {}}
        touched: set[str] = set()
        for m in branch_ms:
            touched.update(m.get("tables", ()))
            touched.update(m.get("replaces", {}).keys())
            touched.update(m.get("restores", {}).keys())
        base = view._ref_base
        # Conflict detection works on BASE table names: a merge-on-read
        # delete commits only to __tomb_<t>, so main advancing via
        # delete_where(t) must conflict with a branch that touched t
        # (else the adopted branch appends land BELOW main's tombstone
        # seq and their rows are silently hidden), and symmetrically a
        # branch that only delete_where'd must conflict with main
        # appends to the plain table (the branch tombstone would not
        # apply to them — not a fast-forward).
        touched_bases = {self._base_table(t) for t in touched}
        conflicts = sorted(
            b
            for b in touched_bases
            if any(
                not m.get("branch")
                and m.get("seq", 0) > base
                and any(
                    self._base_table(x) == b
                    for x in (
                        *m.get("tables", ()),
                        *m.get("replaces", {}),
                        *m.get("restores", {}),
                    )
                )
                for m in all_ms
            )
        )
        if conflicts:
            if strategy == "ff":
                raise BranchConflictError(
                    f"main advanced on {conflicts} since branch {name!r}"
                    f" forked at seq {base} — fast-forward merge refused"
                    f" (strategy='union' merges append-only divergence)"
                )
            if strategy != "union":
                raise ValueError(f"unknown merge strategy {strategy!r}")
            self._check_union_mergeable(name, all_ms, base, conflicts)
        txn = self.begin(operation="merge_branch")
        report: dict[str, dict] = {}
        for t in sorted(touched):
            live_branch = set(view.committed_runs_for(t))
            live_main = set(self.committed_runs_for(t))
            adds = sorted(live_branch - live_main)
            # main's own post-fork appends — including runs ADOPTED by an
            # earlier branch merge (they arrive via that merge commit's
            # restores, not its tables list) — are invisible to this
            # branch's view but must survive a union merge: never retire
            # them. Under ff (conflicts refused above) the set is empty
            # and removes degrades to the plain live_main - live_branch.
            # The log is re-read AFTER live_main: a concurrent merge that
            # committed since all_ms was read put its adopted runs into
            # live_main, and only the newer log lists them as post-fork.
            main_post_fork: set[str] = set()
            for m in self._read_manifests():
                if not m.get("branch") and m.get("seq", 0) > base:
                    if t in m.get("tables", ()):
                        main_post_fork.add(m["run_id"])
                    main_post_fork.update(m.get("restores", {}).get(t, ()))
            removes = sorted(live_main - live_branch - main_post_fork)
            gone = [
                r for r in adds if not os.path.isdir(self.run_dir(t, r))
            ]
            if gone:
                txn.abort()
                raise IncrementalWindowExpiredError(
                    f"merge of branch {name!r} needs vacuumed runs {gone}"
                    f" of table {t!r}"
                )
            if adds:
                txn.restores[t] = adds
            if removes:
                txn.replaces[t] = removes
            if adds or removes:
                report[t] = {"adds": adds, "removes": removes}
        if not report:
            txn.abort()
            return {"merged": False, "tables": {}}
        txn.extra_manifest = {
            "merged_branch": name,
            "merge_base": base,
            "merge_strategy": strategy,
        }
        txn.commit()
        return {
            "merged": True,
            "run_id": txn.run_id,
            "tables": report,
            "strategy": strategy,
        }

    def _check_union_mergeable(
        self, name: str, all_ms: list[dict], base: int, conflicts: list[str]
    ) -> None:
        """Union-merge admissibility: every commit on EITHER side of a
        conflicted table since the fork must be a pure append (appends
        interleave commutatively; anything else — compaction, overwrite,
        rollback, merge-on-read delete — depends on seq order across the
        divergence and cannot be replayed soundly), and a primary-key
        table must not have received the same key on both sides (checked
        with one semi-join over only the post-fork runs)."""
        conflicted = set(conflicts)
        offenders = []
        for m in all_ms:
            on_branch = m.get("branch") == name
            on_main = not m.get("branch") and m.get("seq", 0) > base
            if not (on_branch or on_main):
                continue
            side = "branch" if on_branch else "main"
            for t in conflicted:
                tomb = self._tombstone_table(t)
                if tomb in m.get("tables", ()):
                    offenders.append(
                        f"{side}:{m['run_id']} (merge-on-read delete on {t!r})"
                    )
                if m.get("replaces", {}).get(t) or m.get("replaces", {}).get(
                    tomb
                ):
                    offenders.append(
                        f"{side}:{m['run_id']}"
                        f" ({m.get('operation', 'write')} rewrote {t!r})"
                    )
                if m.get("restores", {}).get(tomb):
                    offenders.append(
                        f"{side}:{m['run_id']} (merge adopted deletes on {t!r})"
                    )
                if m.get("restores", {}).get(t) and (
                    m.get("operation") != "merge_branch"
                ):
                    # an EARLIER branch merge's restores are adopted
                    # appends (its replaces/tomb adoptions are caught
                    # above) — append-equivalent for union purposes;
                    # any other restore (rollback) reorders history
                    offenders.append(
                        f"{side}:{m['run_id']}"
                        f" ({m.get('operation', 'write')} restored runs"
                        f" of {t!r})"
                    )
        if offenders:
            raise BranchConflictError(
                f"union merge of branch {name!r} refused — divergence on"
                f" {sorted(conflicted)} is not append-only:"
                f" {sorted(set(offenders))}"
            )
        for t in sorted(conflicted):
            pk = self._primary_keys.get(t)
            if not pk:
                continue
            branch_runs = sorted(
                {
                    m["run_id"]
                    for m in all_ms
                    if m.get("branch") == name and t in m.get("tables", ())
                }
            )
            main_side: set[str] = set()
            for m in all_ms:
                if not m.get("branch") and m.get("seq", 0) > base:
                    if t in m.get("tables", ()):
                        main_side.add(m["run_id"])
                    # runs adopted by an earlier branch merge carry keys
                    # inserted since the fork too — include them
                    main_side.update(m.get("restores", {}).get(t, ()))
            main_runs = sorted(main_side)
            if not branch_runs or not main_runs:
                continue
            if self.spark is None:
                raise ValueError(
                    f"union merge of primary-key table {t!r} needs a"
                    " Spark-attached handle to check key overlap"
                )
            b = self._read_raw(t, runs=branch_runs).select(*pk)
            mn = self._read_raw(t, runs=main_runs).select(*pk)
            if b.join(mn, on=pk, how="left_semi").limit(1).count():
                raise BranchConflictError(
                    f"union merge of branch {name!r} refused — table"
                    f" {t!r} received the same primary key on both sides"
                    f" since fork seq {base}"
                )

    def rebase_branch(self, name: str) -> int:
        """Move an APPEND-ONLY branch's fork point to the current main
        snapshot, so a later :meth:`merge_branch` fast-forwards even
        though main advanced — appends commute, so replaying them onto
        the new base is sound without touching any data or manifest.
        Returns the new base seq.

        Refused (``ValueError``) when the branch carries anything that
        does NOT commute with main's interim commits:

        - ``replaces``/``restores`` (compaction, overwrite, rollback on
          the branch rewrote runs that main may since have changed);
        - merge-on-read tombstones (a tombstone hides rows with earlier
          seqs — after a rebase it would swallow main rows appended
          between fork and rebase, silently changing semantics);
        - MAIN-side merge-on-read deletes on a table the branch appended
          to (the main tombstone's seq exceeds the branch's append seqs,
          so the branch rows would be hidden after merge — appends only
          commute with main commits that don't delete from their table).

        The ref update is a read-modify-replace of one small object —
        serialize rebases of one branch externally (they are an
        administrative verb, not a data-plane race)."""
        if self._ref is not None:
            raise ValueError("rebase_branch must run on the main handle")
        view = self.branch(name)  # raises on unknown branch
        branch_ms = [
            m
            for m in self._read_manifests()
            if m.get("branch") == name
        ]
        blockers = []
        for m in branch_ms:
            if m.get("replaces") or m.get("restores"):
                blockers.append(f"{m['run_id']} ({m.get('operation')})")
            elif any(
                t.startswith("__tomb_") for t in m.get("tables", ())
            ):
                blockers.append(f"{m['run_id']} (merge-on-read delete)")
        if blockers:
            raise ValueError(
                f"branch {name!r} is not append-only — rebase would change"
                f" semantics of: {blockers}"
            )
        # Appends do NOT commute with main merge-on-read deletes: a main
        # delete_where between fork and the new base leaves a tombstone
        # whose seq EXCEEDS the branch's earlier append seqs, so after
        # rebase+merge the branch's rows for those keys would be
        # swallowed by seq-ordered tombstone replay. Refuse — re-fork
        # and replay the appends above the delete instead.
        branch_tables = {
            self._base_table(t)
            for m in branch_ms
            for t in m.get("tables", ())
        }
        old_base = view._ref_base
        main_deletes = sorted(
            {
                t
                for m in self._read_manifests()
                if not m.get("branch") and m.get("seq", 0) > old_base
                for t in m.get("tables", ())
                if t.startswith("__tomb_")
                and self._base_table(t) in branch_tables
            }
        )
        if main_deletes:
            raise ValueError(
                f"main committed merge-on-read deletes {main_deletes} on"
                f" tables branch {name!r} appended to since fork seq"
                f" {old_base} — rebased appends would fall below the"
                f" tombstone seq and be hidden; rebase refused"
            )
        new_base = max(
            (m.get("seq", 0) for m in self._manifests()), default=0
        )
        path = os.path.join(self._refs_dir(), f"{name}.json")
        tmp = os.path.join(self._refs_dir(), f".{name}.rebase.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"name": name, "base_seq": new_base}, fh)
        os.replace(tmp, path)
        return new_base

    def _main_view(self) -> "TransactionalWarehouse":
        if self._ref is None:
            return self
        import copy as _copy

        view = _copy.copy(self)
        view._ref = None
        view._ref_base = 0
        return view

    def _live_runs_all_refs(self, table: str) -> set[str]:
        """Liveness across EVERY ref — what vacuum/fsck must protect: a
        run invisible on main may be a branch's only copy of its work."""
        main = self._main_view()
        live = set(main.committed_runs_for(table))
        for name in self.list_branches():
            live.update(self.branch(name).committed_runs_for(table))
        return live

    def begin(
        self, batch_id: str | None = None, *, operation: str = "write"
    ) -> Transaction:
        """Open a transaction; ``batch_id`` makes the ingest idempotent.

        If ``batch_id`` was already committed, the returned transaction's
        ``commit()`` reports False and ``stage()`` raises — callers should
        check :meth:`is_committed` first for a clean skip. If a previous
        attempt crashed mid-stage (staged dirs, no marker), its leftovers
        are wiped so the retry stages from scratch instead of doubling
        rows; a COMPLETELY published (but unmarked) dest is adopted — the
        retry finishes the dead attempt's commit instead of re-copying.

        Contract: the retry-wipe is CRASH recovery. Concurrent live
        committers of one batch_id are safe through ``stage``/``commit``
        (exactly one marker ever wins), but calling ``begin(batch_id)``
        while a live peer of the same batch is mid-commit may wipe that
        peer's in-progress staging — the peer then loses gracefully
        (False) and the caller republishes. Serializing retry scheduling
        per batch (as any job scheduler does) avoids even that.
        """
        run_id = _sanitize_run_id(batch_id) if batch_id else uuid.uuid4().hex
        if batch_id and not self.is_committed(run_id):
            for table in self.all_tables():
                dest = self.run_dir(table, run_id)
                if not self.backend.is_complete_dir(dest):
                    # a crashed attempt's half-published dest (and, on the
                    # object-store backend, its publish claim) — wipe so
                    # the retry can republish. A COMPLETE dest is ADOPTED
                    # instead: the retry's own publish sees EXISTS and
                    # proceeds straight to the marker, finishing a peer
                    # that died between data publish and marker.
                    shutil.rmtree(dest, ignore_errors=True)
                    clear = getattr(self.backend, "clear_claim", None)
                    if clear is not None:
                        clear(dest)
                staging = os.path.join(self.path(table), STAGING_DIR)
                if os.path.isdir(staging):
                    for entry in os.listdir(staging):
                        if entry.rsplit(".", 1)[0] == run_id:
                            shutil.rmtree(
                                os.path.join(staging, entry), ignore_errors=True
                            )
        txn = Transaction(self, run_id)
        txn.operation = operation
        if self.is_committed(run_id):
            txn._already_committed = True  # stage() raises, commit() False
        return txn

    def is_committed(self, run_id: str) -> bool:
        return os.path.exists(self.marker_path(run_id))

    def is_batch_committed(self, batch_id: str) -> bool:
        """True iff a transaction begun with this ``batch_id`` already
        committed. Applies the same run-id sanitization ``begin()`` uses,
        so idempotency pre-checks stay in lockstep with commit markers
        even if the sanitization rule ever changes."""
        return self.is_committed(_sanitize_run_id(batch_id))

    def create_all(self) -> None:
        """DDL bootstrap: just the directory skeleton — data arrives via txns."""
        for table in self.all_tables():
            os.makedirs(self.path(table), exist_ok=True)
        os.makedirs(os.path.join(self.txn_root(), "commits"), exist_ok=True)

    def resolve_timestamp(self, ts: float) -> int:
        """Highest snapshot seq whose commit marker was published at or
        before unix-time ``ts`` — the ``TIMESTAMP AS OF`` resolution.
        Marker files are write-once (atomic link), so their mtime is the
        commit instant. Returns 0 (empty snapshot) when ``ts`` predates
        every commit."""
        best = 0
        for m in self._manifests():
            at = m.get("committed_at")
            if at is not None and at <= ts:
                best = max(best, m.get("seq", 0))
        return best

    def snapshot_reader(self, as_of: int | str | None = None) -> "SnapshotReader":
        """A reader PINNED to one snapshot across tables: every ``read``
        through it sees the same commit prefix, so multi-table queries
        (a join of patients and consents, say) stay transactionally
        consistent even while writers keep committing — the repeatable-
        read guarantee a shared ``as_of`` provides, captured once.
        Defaults to the current snapshot at call time."""
        if as_of is None:
            seqs = self.snapshots()
            as_of = seqs[-1]["seq"] if seqs else 0
        return SnapshotReader(self, as_of)

    def read(self, table: str, as_of: int | str | None = None) -> DataFrame:
        """Committed-runs-only read (snapshot = commit set at plan time).

        ``as_of`` time-travels: pass a snapshot seq (int) or a committed
        run_id (str) to read the table exactly as that commit left it —
        later commits are excluded, and compactions that happened AFTER the
        target snapshot do not hide the original runs (their files are
        still on disk until :meth:`vacuum`, which expires time travel to
        superseded snapshots, like any table format's snapshot expiry).
        """
        raw = self._read_raw(table, as_of=as_of, keep_run=True)
        return self._apply_tombstones(raw, table, as_of=as_of)

    #: hidden passthrough of the scan's _metadata.file_path — survives the
    #: epoch remap select, unlike the _metadata pseudo-column itself
    FILE_PATH_COL = "__file_path"

    def _read_raw(
        self,
        table: str,
        as_of: int | str | None = None,
        *,
        keep_run: bool = False,
        runs: list[str] | None = None,
        with_file_path: bool = False,
    ) -> DataFrame:
        """Committed-runs scan without merge-on-read delete application
        (``keep_run`` retains the ``__run_id`` column for seq-aware
        consumers). This is the ONE place that understands column-mapping
        and partition-spec epochs — every internal consumer that reads
        run files (DML semi-scans, CDC windows, stats indexing) routes
        here rather than scanning with the logical schema directly, which
        would silently null-fill renamed columns in pre-rename files.

        ``runs`` overrides the committed-live run set — used by
        :meth:`read_changes` (windows may include superseded-but-on-disk
        runs) and by incremental stats indexing. ``with_file_path`` adds
        the source file path as :data:`FILE_PATH_COL`.
        """
        committed = (
            list(runs)
            if runs is not None
            else self.committed_runs_for(table, as_of=as_of)
        )
        schema = self.table_schema(table)
        extra_fields = [T.StructField(RUN_ID_COL, T.StringType(), True)]
        if with_file_path:
            extra_fields.append(
                T.StructField(self.FILE_PATH_COL, T.StringType(), True)
            )
        with_run = T.StructType(schema.fields + extra_fields)
        if not committed:
            empty = local_frame(self.spark, [], with_run)
            return empty if keep_run else empty.drop(RUN_ID_COL)
        renames = self._renames_for(table)
        specs = self._spec_changes_for(table)
        fp_cols = (
            [F.col("_metadata.file_path").alias(self.FILE_PATH_COL)]
            if with_file_path
            else []
        )
        if not renames and not specs:
            df = (
                self.spark.read.schema(
                    T.StructType(
                        schema.fields
                        + [T.StructField(RUN_ID_COL, T.StringType(), True)]
                    )
                )
                .parquet(self.path(table))
                .filter(F.col(RUN_ID_COL).isin(committed))
            )
            if with_file_path:
                df = df.select("*", *fp_cols)
            return df if keep_run else df.drop(RUN_ID_COL)
        # Column mapping + partition evolution: group runs into SCHEMA
        # EPOCHS (how many renames / spec changes were committed after
        # each run), read each epoch with the physical names its files
        # actually carry and its own hive-layout discovery, remap to the
        # logical schema, and union. One branch per metadata commit at
        # most — a constant-size plan, never a per-file case analysis.
        import bisect

        # UNFILTERED log (like _run_seq_expr): runs adopted from a merged
        # branch keep branch-tagged manifests invisible to the main view —
        # the ref-filtered _manifests() would map them to seq 0 and read
        # their files under the wrong (pre-rename / pre-spec) epoch
        run_seq = {m["run_id"]: m.get("seq", 0) for m in self._read_manifests()}
        rseqs = [s for s, _, _ in renames]
        sseqs = [s for s, _ in specs]
        epochs: dict[tuple[int, int], list[str]] = {}
        for r in committed:
            s = run_seq.get(r, 0)
            key = (bisect.bisect_right(rseqs, s), bisect.bisect_right(sseqs, s))
            epochs.setdefault(key, []).append(r)
        parts = []
        for (idx, _sidx), epoch_runs in sorted(epochs.items()):
            # physical name of each logical field in this epoch: invert
            # every rename committed after these runs, newest first
            phys_names = [f.name for f in schema.fields]
            for _s, o, n in reversed(renames[idx:]):
                phys_names = [o if p == n else p for p in phys_names]
            phys = T.StructType(
                [
                    T.StructField(p, f.dataType, f.nullable)
                    for p, f in zip(phys_names, schema.fields)
                ]
                + [T.StructField(RUN_ID_COL, T.StringType(), True)]
            )
            part = (
                self.spark.read.schema(phys)
                .option("basePath", self.path(table))
                .parquet(*[self.run_dir(table, r) for r in epoch_runs])
                .select(
                    *[
                        F.col(p).alias(f.name)
                        for p, f in zip(phys_names, schema.fields)
                    ],
                    RUN_ID_COL,
                    *fp_cols,
                )
            )
            parts.append(part)
        df = parts[0]
        for part in parts[1:]:
            df = df.unionByName(part)
        return df if keep_run else df.drop(RUN_ID_COL)

    def append(self, df: DataFrame, table: str) -> None:
        """Single-table append = a one-table transaction (auto-commit)."""
        txn = self.begin(operation="append")
        try:
            txn.stage(df, table)
        except Exception:
            txn.abort()
            raise
        txn.commit()

    def forget(self, predicates: dict[str, "Column"]) -> dict[str, int]:
        """Right-to-be-forgotten: atomically rewrite tables WITHOUT the rows
        matching each table's predicate (GDPR erasure / consent revocation).

        ``predicates`` maps table → the Column identifying rows to ERASE
        (e.g. ``{"patients": col("id") == pid, "consent_records":
        col("patient_id") == pid}``). All rewrites stage under ONE
        transaction whose marker ``replaces`` every live run of every
        touched table — the single rename makes the subject disappear from
        all tables at the same instant, never from some but not others.
        Returns per-table erased-row counts.

        The erased bytes remain in superseded run dirs until
        :meth:`vacuum` — as with every table format, erasure is complete
        only after snapshot expiry (and time travel to pre-erasure
        snapshots dies with it, which for GDPR is the point).

        Derived indexes (:meth:`register_derived_index`) of a touched
        table are rewritten WITHOUT the erased keys' rows in the SAME
        commit — the forgotten subject disappears from base tables and
        their materialized sidecars (LSH band buckets, …) at one instant,
        never from some but not others. Their erased-row counts appear in
        the returned dict under the index table's name.

        Scale shape: identical to compaction — one filtered scan + write
        per table; the filter prunes/pushes down like any other predicate.
        Index propagation broadcasts the erased-key set (an erasure
        subject's keys are small by nature) into an anti-join, so the
        index rewrite is one scan too.
        """
        txn = self.begin(operation="forget")
        erased: dict[str, int] = {}
        try:
            for table, pred in predicates.items():
                old_runs = self.committed_runs_for(table)
                current = self.read(table)
                erased[table] = current.filter(pred).count()
                txn.stage(current.filter(~pred | pred.isNull()), table)
                txn.replaces[table] = old_runs
                if table in self._primary_keys:
                    # the rewrite already excluded tombstoned rows: retire
                    # the applied tombstones in the same commit
                    tomb = self._tombstone_table(table)
                    tomb_runs = self.committed_runs_for(tomb)
                    if tomb_runs:
                        txn.replaces[tomb] = tomb_runs
                for idx, key in self._derived_indexes.get(table, {}).items():
                    if idx in predicates:
                        continue  # caller erases it explicitly
                    keys = F.broadcast(
                        current.filter(pred).select(*key).distinct()
                    )
                    idx_runs = self.committed_runs_for(idx)
                    idx_cur = self.read(idx)
                    erased[idx] = idx_cur.join(keys, list(key), "left_semi").count()
                    txn.stage(idx_cur.join(keys, list(key), "left_anti"), idx)
                    txn.replaces[idx] = idx_runs
                    idx_tomb_runs = self.committed_runs_for(
                        self._tombstone_table(idx)
                    )
                    if idx_tomb_runs:
                        txn.replaces[self._tombstone_table(idx)] = idx_tomb_runs
        except Exception:
            txn.abort()
            raise
        txn.commit()
        return erased

    @staticmethod
    def _tombstone_table(table: str) -> str:
        return f"__tomb_{table}"

    @staticmethod
    def _base_table(table: str) -> str:
        """Inverse of :meth:`_tombstone_table` — the user table a commit
        logically affects (a delete_where touches only ``__tomb_<t>``,
        but semantically advances ``t``)."""
        return table[len("__tomb_"):] if table.startswith("__tomb_") else table

    def _run_seq_expr(self, as_of: int | str | None = None) -> "Column":
        """Map the ``__run_id`` column to its commit seq (tiny literal
        map built from the manifest log — bounded by live commits, which
        checkpointing and compaction keep small). Built from the
        UNFILTERED log: a branch run merged to main (restored by the
        merge commit) must still map to its original seq so
        merge-on-read tombstones replay in true commit order."""
        entries: list[Column] = []
        for m in self._read_manifests():
            entries.append(F.lit(m["run_id"]))
            entries.append(F.lit(m.get("seq", 0)))
        if not entries:
            return F.lit(None).cast("long")
        return F.element_at(F.create_map(*entries), F.col(RUN_ID_COL)).cast("long")

    def _apply_tombstones(
        self, df: DataFrame, table: str, as_of: int | str | None = None
    ) -> DataFrame:
        """Merge-on-read delete application, sequence-aware: a row is
        hidden iff SOME tombstone for its key was committed at-or-after
        the row's own run — so re-inserting a deleted key (append, merge,
        compaction rewrite) makes it visible again, exactly like
        deletion-vector semantics replayed in commit order. ``df`` must
        still carry the ``__run_id`` column; it is consumed here.

        Cost when deletes exist: one broadcast join against the (key →
        max delete seq) frame — tombstones are key-only and small; a
        workload whose delete set rivals the data should compact, which
        applies and retires them. Zero cost when no tombstones exist.
        """
        pk = self._primary_keys.get(table)
        tomb = self._tombstone_table(table) if pk else None
        if not pk or not self.committed_runs_for(tomb, as_of=as_of):
            return df.drop(RUN_ID_COL)
        tombs = (
            self._read_raw(tomb, as_of=as_of, keep_run=True)
            .withColumn("__del_seq", self._run_seq_expr(as_of))
            .groupBy(*pk)
            .agg(F.max("__del_seq").alias("__del_seq"))
        )
        out = (
            df.withColumn("__row_seq", self._run_seq_expr(as_of))
            .join(F.broadcast(tombs), pk, "left")
            .filter(
                F.col("__del_seq").isNull()
                | (F.col("__row_seq") > F.col("__del_seq"))
            )
            .drop("__del_seq", "__row_seq", RUN_ID_COL)
        )
        return out

    def delete_where(self, table: str, predicate: "Column") -> int:
        """MERGE-ON-READ delete: record the primary keys of rows matching
        ``predicate`` as a tombstone commit — no data files are rewritten
        (contrast :meth:`forget`/:meth:`overwrite_where`, the
        copy-on-write forms). Readers anti-join live tombstones; a later
        :meth:`compact` applies them physically and retires them in the
        same commit. At 100 TB this turns "delete 0.01% of rows" from a
        table rewrite into one key scan plus a KB-scale write — the
        deletion-vector tradeoff, at this warehouse's key granularity.

        Requires the table to be registered with ``primary_key``.
        Time travel to pre-delete snapshots still sees the rows (the
        tombstone commit is part of history like any other).
        Returns the number of keys tombstoned.

        Derived indexes (:meth:`register_derived_index`) get a tombstone
        commit for the deleted keys in the SAME transaction, so readers
        (including the dedup probe) stop seeing the keys' index rows at
        the same instant as the base rows; :meth:`compact` of the index
        later applies both physically.
        """
        if table not in self._primary_keys:
            raise ValueError(
                f"{table!r} has no primary_key — register_table(...,"
                " primary_key=...) to enable merge-on-read deletes"
            )
        pk = self._primary_keys[table]
        matched = self.read(table).filter(predicate)
        keys = matched.select(*pk).distinct()
        txn = self.begin(operation="delete")
        try:
            txn.stage(keys, self._tombstone_table(table))
            for idx, key in self._derived_indexes.get(table, {}).items():
                txn.stage(
                    matched.select(*key).distinct(),
                    self._tombstone_table(idx),
                )
        except Exception:
            txn.abort()
            raise
        txn.commit()
        return self.spark.read.schema(
            self.table_schema(self._tombstone_table(table))
        ).parquet(
            self.run_dir(self._tombstone_table(table), txn.run_id)
        ).count()

    def merge(
        self,
        source: DataFrame,
        table: str,
        key_cols: list[str],
        *,
        batch_id: str | None = None,
        auto_evolve: bool = False,
    ) -> dict:
        """Copy-on-write MERGE (upsert): rows of ``source`` REPLACE target
        rows sharing the same ``key_cols`` value; unmatched source rows
        INSERT. One atomic commit publishes both effects.

        Scale shape — run-granularity pruning, the Delta/Iceberg
        copy-on-write strategy at this warehouse's file-group unit: a
        cheap semi-join of the run-id-tagged table against the (distinct)
        source keys finds which committed runs contain matched keys; ONLY
        those runs are rewritten (their surviving rows anti-join the
        source keys and restage alongside the full source), and the
        commit's ``replaces`` retires exactly them. Runs untouched by the
        merge keep their files — a merge that hits 1% of runs rewrites 1%
        of the table, not all of it.

        Keys must be non-null on both sides (null never matches null, as
        in SQL MERGE), and ``source`` should be key-unique — duplicate
        source keys all insert (SQL MERGE raises on multiple matches;
        dedup upstream when that matters). Concurrency: the live-run set is re-checked right
        before commit and a concurrent change raises
        :class:`ConcurrentMergeError` with nothing published — optimistic
        concurrency, best-effort across processes (same stance as the OCC
        ingest path; strict cross-driver serialization belongs to a shared
        metastore). ``batch_id`` makes the merge idempotent: a replay of a
        committed merge is a no-op.

        ``auto_evolve=True`` (Delta's ``mergeSchema`` for MERGE): source
        columns absent from the table are ADDED first as nullable columns
        via additive schema evolution — existing rows read them as null,
        and the merge's rewritten/inserted rows carry them. Off by
        default: an unexpected producer column widening the table
        silently is usually a bug, not a feature. Extra source columns
        with ``auto_evolve=False`` are simply dropped by the staging
        projection, as before.

        Returns {"committed", "rewritten_runs", "untouched_runs"}.
        """
        if auto_evolve:
            schema = self.table_schema(table)
            known = set(schema.fieldNames())
            extra = [f for f in source.schema.fields if f.name not in known]
            if extra and table in TABLE_SCHEMAS:
                raise ValueError(
                    f"auto_evolve cannot widen built-in table {table!r}"
                )
            if extra:
                self.register_table(
                    table,
                    T.StructType(
                        schema.fields
                        + [
                            T.StructField(f.name, f.dataType, True)
                            for f in extra
                        ]
                    ),
                    partition_by=tuple(self.partition_columns(table)),
                    primary_key=tuple(self._primary_keys.get(table, ())),
                )
        schema = self.table_schema(table)
        live = self.committed_runs_for(table)
        keys = source.select(*key_cols).distinct()
        affected: list[str] = []
        if live:
            tagged = self._read_raw(table, keep_run=True, runs=live)
            affected = sorted(
                r[RUN_ID_COL]
                for r in tagged.join(keys, key_cols, "left_semi")
                .select(RUN_ID_COL)
                .distinct()
                .collect()
            )
        txn = self.begin(batch_id, operation="merge")
        if txn._already_committed:
            return {
                "committed": False,
                "rewritten_runs": [],
                "untouched_runs": live,
            }
        try:
            if affected:
                surviving = self._apply_tombstones(
                    self._read_raw(table, keep_run=True)
                    .filter(F.col(RUN_ID_COL).isin(affected))
                    .join(keys, key_cols, "left_anti"),
                    table,
                )
                txn.stage(surviving, table)
            txn.stage(source, table)
        except Exception:
            txn.abort()
            raise
        txn.replaces[table] = affected
        if self.committed_runs_for(table) != live:
            txn.abort()
            raise ConcurrentMergeError(
                f"table {table!r} changed during merge — retry against the "
                "new snapshot"
            )
        committed = txn.commit()
        return {
            "committed": committed,
            "rewritten_runs": affected,
            "untouched_runs": sorted(set(live) - set(affected)),
        }

    def overwrite_where(
        self,
        source: DataFrame,
        table: str,
        predicate: "Column",
        *,
        batch_id: str | None = None,
    ) -> dict:
        """Predicate-scoped overwrite (Delta's ``replaceWhere`` / dynamic
        partition overwrite, generalized to any predicate): atomically
        DELETE every committed row matching ``predicate`` and INSERT
        ``source`` in its place. The idempotent-backfill primitive —
        re-running "rebuild March" converges instead of duplicating.

        Same run-granularity copy-on-write as :meth:`merge`: only runs
        containing a matching row are rewritten (their non-matching rows
        survive); runs the predicate never touches keep their files. The
        caller is trusted that ``source`` rows satisfy ``predicate`` —
        rows outside it are inserted anyway (as with replaceWhere's
        unchecked mode), so validate upstream when that matters.

        Returns {"committed", "rewritten_runs", "untouched_runs"}.
        """
        schema = self.table_schema(table)
        live = self.committed_runs_for(table)
        affected: list[str] = []
        if live:
            tagged = self._read_raw(table, keep_run=True, runs=live)
            affected = sorted(
                r[RUN_ID_COL]
                for r in tagged.filter(predicate)
                .select(RUN_ID_COL)
                .distinct()
                .collect()
            )
        txn = self.begin(batch_id, operation="overwrite")
        if txn._already_committed:
            return {
                "committed": False,
                "rewritten_runs": [],
                "untouched_runs": live,
            }
        try:
            if affected:
                surviving = self._apply_tombstones(
                    self._read_raw(table, keep_run=True)
                    .filter(F.col(RUN_ID_COL).isin(affected))
                    .filter(~predicate | predicate.isNull()),
                    table,
                )
                txn.stage(surviving, table)
            txn.stage(source, table)
        except Exception:
            txn.abort()
            raise
        txn.replaces[table] = affected
        if self.committed_runs_for(table) != live:
            txn.abort()
            raise ConcurrentMergeError(
                f"table {table!r} changed during overwrite_where — retry "
                "against the new snapshot"
            )
        committed = txn.commit()
        return {
            "committed": committed,
            "rewritten_runs": affected,
            "untouched_runs": sorted(set(live) - set(affected)),
        }

    def update_where(
        self,
        table: str,
        predicate: "Column",
        assignments: dict[str, "Column"],
        *,
        batch_id: str | None = None,
    ) -> dict:
        """Copy-on-write ``UPDATE ... SET``: rows matching ``predicate``
        get each assignment column replaced by its expression; every other
        row — including rows where the predicate evaluates NULL, as in SQL
        UPDATE — is carried through unchanged. Completes the DML verb set
        (append / MERGE / DELETE / replaceWhere / UPDATE) the reference
        gets for free from its Postgres session (routes.py:148).

        Same run-granularity copy-on-write as :meth:`merge` /
        :meth:`overwrite_where`: a semi-scan finds which committed runs
        contain a matching row and ONLY those are rewritten (with the
        update applied in-plan); untouched runs keep their files, so an
        update hitting 1% of runs rewrites 1% of the table — never a
        full-table rewrite. All assignment expressions see the OLD row
        (standard SQL UPDATE semantics: ``SET a = b, b = a`` swaps).

        ``batch_id`` makes the update idempotent — a replay of a committed
        update is a no-op. A concurrent commit to the table between the
        run scan and this commit raises :class:`ConcurrentMergeError` with
        nothing published. Returns {"committed", "rewritten_runs",
        "untouched_runs"}.
        """
        schema = self.table_schema(table)
        known = {f.name for f in schema.fields}
        bad = sorted(set(assignments) - known)
        if bad:
            raise ValueError(
                f"update_where on {table!r}: unknown column(s) {bad}"
            )
        live = self.committed_runs_for(table)
        affected: list[str] = []
        if live:
            tagged = self._read_raw(table, keep_run=True, runs=live)
            affected = sorted(
                r[RUN_ID_COL]
                for r in tagged.filter(predicate)
                .select(RUN_ID_COL)
                .distinct()
                .collect()
            )
        txn = self.begin(batch_id, operation="update")
        if txn._already_committed:
            return {
                "committed": False,
                "rewritten_runs": [],
                "untouched_runs": live,
            }
        try:
            if affected:
                base = self._apply_tombstones(
                    self._read_raw(table, keep_run=True).filter(
                        F.col(RUN_ID_COL).isin(affected)
                    ),
                    table,
                )
                updated = base.select(
                    *[
                        (
                            F.when(
                                predicate,
                                assignments[f.name].cast(f.dataType),
                            )
                            .otherwise(F.col(f.name))
                            .alias(f.name)
                            if f.name in assignments
                            else F.col(f.name)
                        )
                        for f in schema.fields
                    ]
                )
                txn.stage(updated, table)
        except Exception:
            txn.abort()
            raise
        txn.replaces[table] = affected
        if self.committed_runs_for(table) != live:
            txn.abort()
            raise ConcurrentMergeError(
                f"table {table!r} changed during update_where — retry "
                "against the new snapshot"
            )
        committed = txn.commit()
        return {
            "committed": committed,
            "rewritten_runs": affected,
            "untouched_runs": sorted(set(live) - set(affected)),
        }

    def compact(
        self, table: str, *, target_file_mb: float = 128, sort_by: str | None = None
    ) -> int:
        """Transactional compaction: rewrite every live run of ``table`` into
        one size-targeted run, published atomically.

        The compacted data stages under a fresh run_id whose commit marker
        carries ``replaces[table] = [old run_ids]`` — the single marker
        rename simultaneously publishes the new files and retires the old
        ones, so readers never see both (or neither). The superseded run
        dirs become dead weight reclaimed by :meth:`vacuum`.
        """
        import math
        import pathlib

        old_runs = self.committed_runs_for(table)
        current = self.read(table)
        n_bytes = sum(
            f.stat().st_size
            for run in old_runs
            for f in pathlib.Path(self.run_dir(table, run)).rglob("*.parquet")
        )
        n_files = max(1, math.ceil(n_bytes / (target_file_mb * 1024 * 1024)))
        compacted = current.repartition(n_files)
        if sort_by:
            compacted = compacted.sortWithinPartitions(sort_by)
        txn = self.begin(operation="compact")
        try:
            txn.stage(compacted, table)
        except Exception:
            txn.abort()
            raise
        txn.replaces[table] = old_runs
        if table in self._primary_keys:
            tomb = self._tombstone_table(table)
            tomb_runs = self.committed_runs_for(tomb)
            if tomb_runs:
                # the rewrite read through read() already excluded the
                # tombstoned rows, so the tombstones are APPLIED — retire
                # them in the same atomic commit
                txn.replaces[tomb] = tomb_runs
        txn.commit()
        return n_files

    def _stats_dir(self, table: str) -> str:
        return os.path.join(self.root, "_stats", table)

    @staticmethod
    def _bloom_positions_col(c: str, bits: int, k: int) -> "Column":
        """Array of k Bloom bit positions for column ``c`` (engine-portable
        hash, so the driver can re-derive positions without a job)."""
        from healthcare_etl_pipeline_spark.operators.text import (
            portable_char_hash,
        )

        key = F.col(c).cast("string")
        return F.array(
            *[
                portable_char_hash(F.concat(key, F.lit(f"#{i}"))) % bits
                for i in range(k)
            ]
        )

    def _write_blooms(
        self,
        table: str,
        df: DataFrame,
        bloom_cols: list[str],
        bits: int,
        k: int,
        *,
        mode: str,
    ) -> None:
        """Per-file distinct Bloom positions for each indexed column:
        (file_path, pos) rows under ``_stats/<table>/bloom_<col>``. The
        set is at most ``bits`` rows per file — KB-scale beside the data."""
        for c in bloom_cols:
            pos = (
                df.select(
                    F.col(self.FILE_PATH_COL).alias("file_path"),
                    F.explode(self._bloom_positions_col(c, bits, k)).alias(
                        "pos"
                    ),
                )
                .distinct()
            )
            pos.coalesce(1).write.mode(mode).parquet(
                os.path.join(self._stats_dir(table), f"bloom_{c}")
            )

    def build_stats_index(
        self,
        table: str,
        cols: list[str],
        *,
        bloom_cols: list[str] | None = None,
        bloom_bits: int | None = None,
        bloom_k: int = 3,
    ) -> int:
        """Build (or rebuild) a file-level min/max stats index for
        ``table`` — the data-skipping manifest (Iceberg's per-file column
        bounds, Delta's file stats) for this warehouse's unit of work.

        One distributed scan groups the table by ``_metadata.file_path``
        and records per-file row count and per-column min/max; the tiny
        result lands under ``_stats/<table>/`` with a manifest noting
        which run_ids it covers. The index is ADVISORY: :meth:`read_skipping`
        consults it for covered runs and falls back to full reads for runs
        committed after the build, so a stale index can never lose rows.

        ``bloom_cols`` additionally records a per-file BLOOM set (k
        engine-portable hash positions per value, distinct per file) for
        each listed column — the pruning zone maps cannot do: a
        high-cardinality key inserted over time spans every file's
        [min,max], but lives in only a few files' Bloom sets, so a point
        lookup opens just those (Parquet's bloom_filter_enabled /
        Iceberg's bloom stats, at this warehouse's file granularity). No
        false negatives by construction; false positives only cost an
        extra file read.

        ``bloom_bits`` defaults to SCALE-ADAPTIVE sizing: the bit-space is
        derived from the largest per-file row count so the sets stay
        sparse (fill ≤ ~1/8 ⇒ fpp ≈ 0.2 % at k=3) at any scale factor. A
        fixed size is a 100×-trap: 2^16 bits saturates completely at
        ~190 k keys/file (measured at the sf10 rung — every probe answered
        "maybe" and zero files were pruned). The derived size is recorded
        in the manifest; :meth:`update_stats_index` keeps using it for
        incremental appends (re-run ``build_stats_index`` to re-size after
        the per-file volume grows by orders of magnitude). Storage is a
        distinct-position list, ≤ min(bits, k·n_rows) rows per file — a
        few MB per GB-scale file, still noise beside the data.

        At 100 TB the stats scan is one pass (column-pruned to the indexed
        columns) and the index is KB-scale — the listing that replaces
        opening every file at query time. Returns the number of files
        indexed.
        """
        live = self.committed_runs_for(table)
        sdir = self._stats_dir(table)
        shutil.rmtree(sdir, ignore_errors=True)
        os.makedirs(sdir, exist_ok=True)
        bloom_cols = list(bloom_cols or [])
        if live:
            # epoch-aware scan with the file path carried through the
            # column-mapping remap (plain _metadata would not survive it)
            base = self._apply_tombstones(
                self._read_raw(table, keep_run=True, with_file_path=True),
                table,
            )
            aggs = [F.count(F.lit(1)).alias("n_rows")]
            for c in cols:
                aggs.append(F.min(c).alias(f"min_{c}"))
                aggs.append(F.max(c).alias(f"max_{c}"))
            stats = (
                base.select(
                    F.col(self.FILE_PATH_COL).alias("file_path"), *cols
                )
                .groupBy("file_path")
                .agg(*aggs)
            )
            stats.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(sdir, "files")
            )
            if bloom_cols:
                if bloom_bits is None:
                    # Size the bit-space to the biggest file: m >= 8·k·n
                    # keeps fill ratio <= ~1/8 (fpp ~ (1-e^{-1/8})^k,
                    # ~0.2% at k=3) no matter how many rows a file holds.
                    # Row count upper-bounds the distinct count, so this
                    # can only over-provision. Floor 2^16 (the old fixed
                    # size, right for tiny files); cap 2^27 — far below
                    # the portable hash's 1e9+7 modulus, so positions
                    # stay uniform.
                    max_rows = (
                        self.spark.read.parquet(os.path.join(sdir, "files"))
                        .agg(F.max("n_rows"))
                        .collect()[0][0]
                        or 1
                    )
                    bloom_bits = min(
                        1 << 27,
                        max(1 << 16, 1 << (8 * bloom_k * max_rows - 1).bit_length()),
                    )
                self._write_blooms(
                    table,
                    base,
                    bloom_cols,
                    bloom_bits,
                    bloom_k,
                    mode="overwrite",
                )
        n_files = (
            self.spark.read.parquet(os.path.join(sdir, "files")).count()
            if live
            else 0
        )
        manifest = {
            "covered_runs": live,
            "cols": cols,
            "n_files": n_files,
            "bloom": {
                "cols": bloom_cols,
                # None only when there were no live runs to size against
                # (nothing was written): record the floor so a later
                # update_stats_index has a concrete modulus.
                "bits": bloom_bits if bloom_bits is not None else 1 << 16,
                "k": bloom_k,
            },
        }
        tmp = os.path.join(sdir, ".manifest.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(sdir, "manifest.json"))
        return n_files

    def update_stats_index(self, table: str) -> int:
        """Incrementally extend the stats index to runs committed after
        the last build/update — the commit-path maintenance real table
        formats do inline. Scans ONLY the uncovered runs (partition-pruned
        file listing), appends their per-file stats, and atomically
        replaces the manifest; entries for runs that are no longer live
        (compacted/vacuumed) are dropped from the covered set on the same
        write. Cost is proportional to the CHANGE, like read_changes.
        Returns the number of newly indexed files.
        """
        sdir = self._stats_dir(table)
        mpath = os.path.join(sdir, "manifest.json")
        if not os.path.exists(mpath):
            raise RuntimeError(
                f"no stats index for {table!r} — build_stats_index first"
            )
        with open(mpath, encoding="utf-8") as fh:
            manifest = json.load(fh)
        cols = manifest["cols"]
        live = self.committed_runs_for(table)
        covered = [r for r in manifest["covered_runs"] if r in set(live)]
        new_runs = [r for r in live if r not in set(covered)]
        bloom = manifest.get("bloom") or {"cols": [], "bits": 1 << 16, "k": 3}
        n_new = 0
        if new_runs:
            aggs = [F.count(F.lit(1)).alias("n_rows")]
            for c in cols:
                aggs.append(F.min(c).alias(f"min_{c}"))
                aggs.append(F.max(c).alias(f"max_{c}"))
            new_df = self._read_raw(
                table, runs=new_runs, with_file_path=True
            )
            fresh = (
                new_df.select(
                    F.col(self.FILE_PATH_COL).alias("file_path"), *cols
                )
                .groupBy("file_path")
                .agg(*aggs)
            )
            fresh.coalesce(1).write.mode("append").parquet(
                os.path.join(sdir, "files")
            )
            n_new = fresh.count()
            if bloom["cols"]:
                # The bit-space was sized at build time from the then-max
                # per-file row count; appends reuse it. If the incoming
                # files are far larger, the sets re-saturate (the exact
                # failure the adaptive sizing exists to prevent) — detect
                # it here rather than silently degrading pruning to 0.
                new_max = (
                    fresh.agg(F.max("n_rows")).collect()[0][0] or 0
                )
                if 8 * bloom["k"] * new_max > bloom["bits"]:
                    warnings.warn(
                        f"stats index for {table!r}: appended files hold up "
                        f"to {new_max} rows but the Bloom bit-space was "
                        f"sized for <= {bloom['bits'] // (8 * bloom['k'])} "
                        f"rows/file; sets may saturate and stop pruning — "
                        f"re-run build_stats_index to re-size",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                self._write_blooms(
                    table,
                    new_df,
                    bloom["cols"],
                    bloom["bits"],
                    bloom["k"],
                    mode="append",
                )
        manifest = {
            "covered_runs": sorted(set(covered) | set(new_runs)),
            "cols": cols,
            "n_files": manifest.get("n_files", 0) + n_new,
            "bloom": bloom,
        }
        tmp = os.path.join(sdir, ".manifest.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, mpath)
        return n_new

    def rollback(self, table: str, to: int | str) -> list[str]:
        """Roll ``table`` back to snapshot ``to`` (seq or run_id): commits
        a marker whose ``replaces`` retires every run added to the table
        AFTER that snapshot, so the current read equals ``read(table,
        as_of=to)`` from the next instant on — metadata-only, no data
        rewrite, same single atomic marker as every other commit (the
        Iceberg ``rollback`` verb). The retired runs' files stay on disk
        for time travel until :meth:`vacuum`. Returns the retired run_ids.

        Rolling back ACROSS a compaction/overwrite boundary restores the
        superseded runs via the marker's ``restores`` entry — provided
        their files still exist; if :meth:`vacuum` already reclaimed them
        the rollback raises (snapshot expiry limits rollback reach, as in
        any table format).

        Incremental consumers: a rollback is NOT an append — ``read_changes``
        windows skip the marker, so a CDC-maintained view diverges from a
        rolled-back source until its next full refresh (the same contract
        as Iceberg's incremental append scan over non-append snapshots).
        """
        target = set(self.committed_runs_for(table, as_of=to))
        current = set(self.committed_runs_for(table))
        to_retire = sorted(current - target)
        to_restore = sorted(target - current)
        if not to_retire and not to_restore:
            return []
        gone = [
            r for r in to_restore if not os.path.isdir(self.run_dir(table, r))
        ]
        if gone:
            raise IncrementalWindowExpiredError(
                f"rollback of {table!r} to {to!r} needs vacuumed runs {gone}"
            )
        txn = self.begin(operation="rollback")
        if to_retire:
            txn.replaces[table] = to_retire
        if to_restore:
            txn.restores[table] = to_restore
        txn.commit()
        return to_retire

    def read_skipping(
        self,
        table: str,
        bounds: dict[str, tuple],
        *,
        equals: dict | None = None,
    ) -> tuple[DataFrame, dict]:
        """Data-skipping read: serve only the files whose stats ranges can
        contain rows satisfying ``bounds`` (col → (lo, hi), either side
        None for unbounded), plus FULL runs committed after the stats
        build (the index never lies by omission). Returns (df, report)
        where report = {files_total, files_read, runs_uncovered}.

        ``equals`` (col → value) prunes through the per-file BLOOM sets
        (``build_stats_index(bloom_cols=...)``): a file survives only if
        all k hash positions of the value are set in its Bloom set — the
        point-lookup pruning zone maps cannot provide when the key is
        high-cardinality and spread across every file's [min,max]. The
        probe positions are derived driver-side with the same portable
        hash, so the check is a filter over the KB-scale position table —
        no scan of the data. No false negatives; a false positive only
        reads one extra file.

        The returned frame still carries every row of the selected files —
        apply the exact predicate on top (as with any zone-map/row-group
        skipping, stats prune I/O, predicates prune rows). Combine with
        :meth:`optimize` Z-ordering: clustering is what makes the per-file
        ranges tight enough to skip most files.
        """
        from healthcare_etl_pipeline_spark.operators.text import (
            portable_char_hash_py,
        )

        schema = self.table_schema(table)
        live = self.committed_runs_for(table)
        mpath = os.path.join(self._stats_dir(table), "manifest.json")
        if not os.path.exists(mpath):
            raise RuntimeError(
                f"no stats index for {table!r} — build_stats_index first"
            )
        with open(mpath, encoding="utf-8") as fh:
            manifest = json.load(fh)
        for c in bounds:
            if c not in manifest["cols"]:
                raise KeyError(f"column {c!r} is not in the stats index")
        bloom = manifest.get("bloom") or {"cols": [], "bits": 1 << 16, "k": 3}
        for c in equals or {}:
            if c not in bloom["cols"]:
                raise KeyError(f"column {c!r} has no Bloom set in the index")
        covered = [r for r in live if r in set(manifest["covered_runs"])]
        uncovered = [r for r in live if r not in set(manifest["covered_runs"])]

        stats = self.spark.read.parquet(
            os.path.join(self._stats_dir(table), "files")
        )
        keep = F.lit(True)
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                keep = keep & (F.col(f"max_{c}") >= F.lit(lo))
            if hi is not None:
                keep = keep & (F.col(f"min_{c}") <= F.lit(hi))
        covered_prefixes = tuple(
            os.path.abspath(self.run_dir(table, r)) for r in covered
        )
        all_files = [r["file_path"] for r in stats.select("file_path").collect()]
        kept_files = [
            r["file_path"] for r in stats.filter(keep).select("file_path").collect()
        ]
        for c, v in (equals or {}).items():
            k, bits = bloom["k"], bloom["bits"]
            probe = {
                portable_char_hash_py(f"{v}#{i}") % bits for i in range(k)
            }
            # Match against the number of DISTINCT probe positions, not k:
            # two of the k hashes can collide (p ~ k²/(2·bits) per key),
            # and the stored per-file positions are distinct — requiring
            # nhit == k would then prune a file that truly contains the
            # value, a false negative the contract forbids.
            hits = {
                r["file_path"]
                for r in self.spark.read.parquet(
                    os.path.join(self._stats_dir(table), f"bloom_{c}")
                )
                .filter(F.col("pos").isin(list(probe)))
                .groupBy("file_path")
                .agg(F.countDistinct("pos").alias("nhit"))
                .filter(F.col("nhit") == F.lit(len(probe)))
                .collect()
            }
            kept_files = [f for f in kept_files if f in hits]

        def _strip(p: str) -> str:
            # normalize "file:/x", "file://x", "file:///x" URIs to "/x"
            return re.sub(r"^file:/+", "/", p)

        selected = [
            f for f in kept_files if _strip(f).startswith(covered_prefixes)
        ]
        paths = selected + [self.run_dir(table, r) for r in uncovered]
        report = {
            "files_total": len(all_files),
            "files_read": len(selected),
            "runs_uncovered": uncovered,
        }
        with_run = T.StructType(
            schema.fields + [T.StructField(RUN_ID_COL, T.StringType(), True)]
        )
        if not paths:
            empty = local_frame(self.spark, [], with_run)
            return self._apply_tombstones(empty, table), report
        renames = self._renames_for(table)
        spec_changes = self._spec_changes_for(table)
        if not renames and not spec_changes:
            # basePath: selected entries are FILE paths — without it, hive
            # partition values encoded in directory names above each file
            # (including __run_id, which merge-on-read delete application
            # needs) would be lost (null-filled by the explicit schema)
            df = (
                self.spark.read.schema(with_run)
                .option("basePath", self.path(table))
                .parquet(*paths)
            )
            return self._apply_tombstones(df, table), report
        # column mapping / partition evolution: group the selected files
        # (and uncovered runs) by their run's schema epoch and read each
        # group with its physical names, as _read_raw does for run dirs
        import bisect

        # UNFILTERED log (like _run_seq_expr): runs adopted from a merged
        # branch keep branch-tagged manifests invisible to the main view —
        # the ref-filtered _manifests() would map them to seq 0 and read
        # their files under the wrong (pre-rename / pre-spec) epoch
        run_seq = {m["run_id"]: m.get("seq", 0) for m in self._read_manifests()}
        rseqs = [s for s, _, _ in renames]
        sseqs = [s for s, _ in spec_changes]

        def _run_of(path: str) -> str:
            m = re.search(rf"{re.escape(RUN_ID_COL)}=([^/]+)/", _strip(path) + "/")
            return m.group(1) if m else ""

        groups: dict[tuple[int, int], list[str]] = {}
        for f in selected:
            s = run_seq.get(_run_of(f), 0)
            key = (bisect.bisect_right(rseqs, s), bisect.bisect_right(sseqs, s))
            groups.setdefault(key, []).append(f)
        for r in uncovered:
            s = run_seq.get(r, 0)
            key = (bisect.bisect_right(rseqs, s), bisect.bisect_right(sseqs, s))
            groups.setdefault(key, []).append(self.run_dir(table, r))
        parts = []
        for (idx, _sidx), group_paths in sorted(groups.items()):
            phys_names = [f.name for f in schema.fields]
            for _s, o, n in reversed(renames[idx:]):
                phys_names = [o if p == n else p for p in phys_names]
            phys = T.StructType(
                [
                    T.StructField(p, f.dataType, f.nullable)
                    for p, f in zip(phys_names, schema.fields)
                ]
                + [T.StructField(RUN_ID_COL, T.StringType(), True)]
            )
            parts.append(
                self.spark.read.schema(phys)
                .option("basePath", self.path(table))
                .parquet(*group_paths)
                .select(
                    *[
                        F.col(p).alias(f.name)
                        for p, f in zip(phys_names, schema.fields)
                    ],
                    RUN_ID_COL,
                )
            )
        df = parts[0]
        for part in parts[1:]:
            df = df.unionByName(part)
        return self._apply_tombstones(df, table), report

    def optimize(
        self,
        table: str,
        *,
        zorder_by: tuple[str, ...] | None = None,
        target_file_mb: float = 128,
        zorder_bits: int = 16,
        min_files: int = 1,
    ) -> int:
        """Layout-as-operation: transactional compaction with an optional
        Z-order clustering pass — the lakehouse ``OPTIMIZE ... ZORDER BY``
        verb, separating write-time layout work from read-time queries.

        With ``zorder_by=(a, b, ...)`` (any arity, Delta-style) the
        rewrite range-partitions and sorts by the Morton interleave of
        the columns' low ``zorder_bits`` bits (operators/layout.py), so
        parquet row-group min/max stats become selective on EVERY listed
        column at once — point/range predicates on any of them prune row
        groups after the rewrite, where a single-column sort helps only
        its own column. Without ``zorder_by`` this is plain
        :meth:`compact`. Publication is the same single-marker atomic
        swap either way; time travel to pre-optimize snapshots survives
        until :meth:`vacuum`.
        """
        if zorder_by is None:
            return self.compact(table, target_file_mb=target_file_mb)
        import math
        import pathlib

        from healthcare_etl_pipeline_spark.operators.layout import zvalue_n

        old_runs = self.committed_runs_for(table)
        current = self.read(table)
        n_bytes = sum(
            f.stat().st_size
            for run in old_runs
            for f in pathlib.Path(self.run_dir(table, run)).rglob("*.parquet")
        )
        n_files = max(min_files, math.ceil(n_bytes / (target_file_mb * 1024 * 1024)))
        bits = min(zorder_bits, 63 // len(zorder_by))
        # min-max normalize each column to the full bits-wide domain
        # BEFORE interleaving: a raw interleave is dominated by whichever
        # column has the wider numeric range (its high bits own the high
        # interleaved positions), which silently degrades the clustering
        # to a single-column sort — the reason production ZORDER
        # implementations rank/range-normalize first. One cheap agg pass.
        stats = current.agg(
            *[
                f
                for c in zorder_by
                for f in (
                    F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                    F.max(F.col(c).cast("double")).alias(f"__hi_{c}"),
                )
            ]
        ).first()
        top = float((1 << bits) - 1)
        scaled = []
        for c in zorder_by:
            lo = stats[f"__lo_{c}"] or 0.0
            hi = stats[f"__hi_{c}"] or 0.0
            span = max(hi - lo, 1e-12)
            scaled.append(
                ((F.col(c).cast("double") - F.lit(lo)) * F.lit(top / span))
                .cast("long")
            )
        z = zvalue_n(scaled, bits=bits)
        clustered = (
            current.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        txn = self.begin(operation="optimize")
        try:
            txn.stage(clustered, table)
        except Exception:
            txn.abort()
            raise
        txn.replaces[table] = old_runs
        if table in self._primary_keys:
            tomb = self._tombstone_table(table)
            tomb_runs = self.committed_runs_for(tomb)
            if tomb_runs:
                # the rewrite read through read() already excluded the
                # tombstoned rows, so the tombstones are APPLIED — retire
                # them in the same atomic commit
                txn.replaces[tomb] = tomb_runs
        txn.commit()
        return n_files

    def vacuum(
        self,
        *,
        staging_retention_sec: float = 0.0,
        dead_run_retention_sec: float = 0.0,
    ) -> list[str]:
        """Remove run dirs that are dead for their table: never committed
        (crashed/aborted stage, including orphaned ``.staging`` attempts)
        or superseded by a compaction commit.

        ``dead_run_retention_sec`` keeps superseded/retired run dirs on
        disk until they are older than the retention — the ``VACUUM ...
        RETAIN`` window that preserves time travel, :meth:`rollback`
        reach, and in-flight incremental reads over recent history
        (production: hours-to-days; the 0 default suits tests/tools).

        ``staging_retention_sec`` guards the one racy case: a ``.staging``
        dir whose run_id is uncommitted might belong to a LIVE in-flight
        transaction, so it is only reclaimed once older than the
        retention (production: set to hours, like ``VACUUM``'s retention
        period; the 0 default suits single-driver tests and tools).
        Staging leftovers of already-committed run_ids are always dead —
        a marker can never be re-published — and are removed regardless
        of age.

        Returns the reclaimed run_ids. Snapshot reads are unaffected (a
        dead run is invisible to :meth:`read` by construction), but two
        historical read classes EXPIRE with it, exactly as with any table
        format's snapshot expiry: time travel to snapshots that predate a
        compaction, and incremental :meth:`read_changes` windows spanning
        the vacuumed runs — the latter raise
        :class:`IncrementalWindowExpiredError` instead of silently
        returning a partial changeset.
        """
        import time

        reclaimed: set[str] = set()
        prefix = f"{RUN_ID_COL}="
        run_cutoff = time.time() - dead_run_retention_sec
        for table in self.all_tables():
            tdir = self.path(table)
            if not os.path.isdir(tdir):
                continue
            live = self._live_runs_all_refs(table)
            claim_prefix = f".publish.{prefix}"
            claims: list[tuple[str, str]] = []  # (claimed run_id, path)
            for entry in os.listdir(tdir):
                if entry.startswith(claim_prefix):
                    # object-store publish claim (commit_backend.py) —
                    # reclaimed below, once its run dir is gone
                    claims.append(
                        (entry[len(claim_prefix):], os.path.join(tdir, entry))
                    )
                elif entry.startswith(prefix):
                    run_id = entry[len(prefix):]
                    path = os.path.join(tdir, entry)
                    if not os.path.isdir(path):
                        continue
                    try:
                        old_enough = os.path.getmtime(path) <= run_cutoff
                    except OSError:
                        old_enough = True
                    if run_id not in live and old_enough:
                        shutil.rmtree(path, ignore_errors=True)
                        reclaimed.add(run_id)
            for claimed, path in claims:
                try:
                    claim_old = os.path.getmtime(path) <= run_cutoff
                except OSError:
                    claim_old = True
                # claim-age guard: a just-created claim may belong to a
                # live committer between claim and first copied object
                if claimed not in live and claim_old and not os.path.isdir(
                    self.run_dir(table, claimed)
                ):
                    try:
                        os.unlink(path)
                    except OSError:
                        pass
            staging = os.path.join(tdir, STAGING_DIR)
            if os.path.isdir(staging):
                cutoff = time.time() - staging_retention_sec
                for entry in os.listdir(staging):
                    run_id = entry.rsplit(".", 1)[0]
                    path = os.path.join(staging, entry)
                    try:
                        old_enough = os.path.getmtime(path) <= cutoff
                    except OSError:
                        old_enough = True
                    if self.is_committed(run_id) or old_enough:
                        shutil.rmtree(path, ignore_errors=True)
                        if not self.is_committed(run_id):
                            reclaimed.add(run_id)
        return sorted(reclaimed)

    def fsck(self) -> dict:
        """Integrity audit (Delta FSCK / Iceberg orphan-file scan),
        read-only: reconcile the commit log against the filesystem.

        Returns, per table:
        - ``missing``: LIVE runs whose directory is gone — real
          corruption (something deleted committed data out-of-band;
          :meth:`vacuum` never removes live runs). Reads of the table
          would silently lose these rows, so callers should treat any
          entry here as fatal.
        - ``dead``: run dirs on disk whose run is committed but no
          longer live (superseded by compaction/rewrite) — time-travel
          fuel, reclaimable by :meth:`vacuum`.
        - ``orphans``: run dirs whose run_id appears in NO commit marker
          (crashed before the marker landed) plus ``.staging`` leftovers
          — never visible to readers, reclaimable by :meth:`vacuum`.

        Cost is one directory listing per table plus the manifest tail —
        no data file is opened, so this runs at any scale.
        """
        # unfiltered: a branch commit is still a commit (not an orphan)
        committed_ever = {m["run_id"] for m in self._read_manifests()}
        report: dict[str, dict] = {}
        prefix = f"{RUN_ID_COL}="
        for table in self.all_tables():
            tdir = self.path(table)
            if not os.path.isdir(tdir):
                continue
            live = self._live_runs_all_refs(table)
            on_disk = {
                e[len(prefix):]
                for e in os.listdir(tdir)
                if e.startswith(prefix)
                # dirs only: ``<dest>.publish`` claim FILES (object-store
                # backend) are commit plumbing, not runs
                and os.path.isdir(os.path.join(tdir, e))
            }
            staging = os.path.join(tdir, STAGING_DIR)
            staged = (
                sorted(os.listdir(staging)) if os.path.isdir(staging) else []
            )
            entry = {
                "missing": sorted(live - on_disk),
                "dead": sorted(
                    r for r in on_disk - live if r in committed_ever
                ),
                "orphans": sorted(
                    r for r in on_disk if r not in committed_ever
                )
                + staged,
            }
            if any(entry.values()):
                report[table] = entry
        return report
