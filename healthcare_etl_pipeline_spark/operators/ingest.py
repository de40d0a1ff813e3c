"""Ingest sinks: patient load, consent unnest, conflict routing, audit, run row.

Re-expresses the reference's persistence block (reference:
app/api/routes.py:87-148):
- per-record Patient INSERT with IntegrityError → 409 on duplicate mrn
  (:88-103, UNIQUE at app/models/patient.py:44)   → anti-join conflict split;
- consent dict exploded to one row per (type, granted) with granted_at
  stamped iff granted (:106-115)                   → ``explode`` + ``when``;
- ClinicalRecord insert of the sanitized payload (:118-124);
- audit row per created patient (:126-133, writer app/services/audit.py:16-35);
- one pipeline_runs row per batch (:137-147);
- ONE ``session.commit()`` for all of it (:148)     → every sink stages into
  one warehouse ``Transaction``; nothing is visible until the caller commits.

Deviation (documented, SURVEY.md §7.6): the reference fails the whole batch
on one duplicate (transaction rollback). At scale, fail-the-batch on a single
key collision is an anti-pattern, so the default here routes conflicts to a
side-output and loads the rest; ``strict=True`` reproduces reference
semantics by raising when any conflict exists.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from healthcare_etl_pipeline_spark.sources.warehouse import (
    Transaction,
    TransactionalWarehouse,
)


class DuplicateMrnError(RuntimeError):
    """Strict-mode equivalent of the reference's 409 on duplicate mrn."""


class ConflictSplit(NamedTuple):
    new: DataFrame
    conflicting: DataFrame


def split_mrn_conflicts(
    incoming: DataFrame, existing_patients: DataFrame, key: str = "mrn"
) -> ConflictSplit:
    """Anti-join conflict detection (reference routes.py:96-103 / J4).

    Two conflict classes, both routed:
    - key already in the warehouse (the reference's IntegrityError path);
    - key duplicated WITHIN the batch — in the reference the second insert
      of the pair 409s, so such rows are conflicts too. All copies are
      routed (no arbitrary winner): intra-batch duplicates are a data error
      the caller must resolve, and any pick-one rule would be
      nondeterministic under shuffling.

    ``existing`` is projected to the key column only before the join, so at
    scale the probe side ships just the key; AQE turns it into a broadcast
    when the existing key set is small.
    """
    dup_count = F.count(F.lit(1)).over(Window.partitionBy(key))
    marked = incoming.withColumn("__dups", dup_count)
    unique_in_batch = marked.filter(F.col("__dups") == 1).drop("__dups")
    intra_dups = marked.filter(F.col("__dups") > 1).drop("__dups")
    existing_keys = existing_patients.select(key).distinct()
    return ConflictSplit(
        new=unique_in_batch.join(existing_keys, key, "left_anti"),
        conflicting=unique_in_batch.join(existing_keys, key, "left_semi").unionByName(
            intra_dups
        ),
    )


def with_surrogate_id(df: DataFrame, col: str = "id") -> DataFrame:
    """UUID surrogate key (reference patient.py:37 uuid4 default)."""
    return df.withColumn(col, F.expr("uuid()"))


def explode_consents(patients_with_id: DataFrame) -> DataFrame:
    """Consent map → one row per (patient_id, consent_type, granted).

    Reference routes.py:106-115: ``granted_at`` stamped only when granted.
    Spark: built-in ``explode`` of the map column — a generator, not a UDTF.
    """
    exploded = patients_with_id.select(
        F.col("id").alias("patient_id"),
        F.explode(F.col("consent")).alias("consent_type", "granted"),
    )
    return exploded.select(
        F.expr("uuid()").alias("id"),
        "patient_id",
        "consent_type",
        F.coalesce(F.col("granted"), F.lit(False)).alias("granted"),
        F.when(F.col("granted"), F.current_timestamp()).alias("granted_at"),
        F.lit(None).cast("timestamp").alias("revoked_at"),
        F.lit(None).cast("string").alias("source_document"),
    )


def build_clinical_records(patients_with_id: DataFrame) -> DataFrame:
    """Sanitized FHIR payload per patient (reference routes.py:118-124)."""
    return patients_with_id.select(
        F.expr("uuid()").alias("id"),
        F.col("id").alias("patient_id"),
        F.col("resource_type"),
        F.col("fhir_resource"),
        F.lit("active").alias("status"),
        F.current_timestamp().alias("recorded_at"),
    )


def build_audit_rows(
    df: DataFrame,
    *,
    actor: str,
    action: str,
    resource_type: str,
    id_col: str = "id",
    detail: str | None = None,
) -> DataFrame:
    """One append-only audit row per input row (reference audit.py:16-35)."""
    return df.select(
        F.expr("uuid()").alias("id"),
        F.lit(actor).alias("actor"),
        F.lit(action).alias("action"),
        F.lit(resource_type).alias("resource_type"),
        F.col(id_col).cast("string").alias("resource_id"),
        F.lit(detail).cast("string").alias("detail"),
        F.current_timestamp().alias("timestamp"),
        F.current_date().alias("dt"),
    )


def load_patients(
    warehouse: TransactionalWarehouse,
    transformed: DataFrame,
    *,
    txn: Transaction,
    actor: str = "pipeline",
    strict: bool = False,
) -> dict[str, int]:
    """Stage one transformed batch into the 4 data tables of ``txn``.

    Patients, then consents/clinical/audit keyed by the new patient ids, all
    under the one transaction: nothing becomes visible until the caller
    commits it, and an aborted or crashed transaction leaves nothing
    (reference single commit, app/api/routes.py:148). The mrn anti-join
    reads the committed ``patients`` table. Returns counts for the
    run-metadata row.

    The transformed batch is small relative to the warehouse (reference caps
    ingest batches at 1000 records, app/schemas/api.py:28), so it is
    materialized once (localCheckpoint) before the multi-sink fan-out: each
    sink must see the same non-deterministic ids/ciphertext, and the lineage
    must not re-read the patients table it is about to write under.
    """
    existing = warehouse.read("patients")
    new, conflicting = split_mrn_conflicts(transformed, existing)
    if strict:
        n_conflicts = conflicting.count()
        if n_conflicts:
            raise DuplicateMrnError(f"{n_conflicts} records with duplicate mrn")

    # localCheckpoint (not cache): the batch lineage reads the patients table
    # through the anti-join, so a write under that path would invalidate a
    # plain cache (recacheByPath) and re-run the plan against the NEW table
    # state. Checkpointing truncates the lineage so every sink sees one
    # immutable materialization — also required because uuid()/encrypt() are
    # non-deterministic.
    batch = with_surrogate_id(new).localCheckpoint(eager=True)
    try:
        n_loaded = batch.count()

        patients = batch.select(
            "id",
            "encrypted_name",
            "encrypted_dob",
            "encrypted_ssn",
            "mrn",
            "gender",
            F.current_timestamp().alias("created_at"),
            F.lit(None).cast("timestamp").alias("updated_at"),
        )
        txn.stage(patients, "patients")
        txn.stage(
            explode_consents(batch.filter(F.col("consent").isNotNull())),
            "consent_records",
        )
        txn.stage(build_clinical_records(batch), "clinical_records")
        txn.stage(
            build_audit_rows(
                batch, actor=actor, action="create", resource_type="Patient"
            ),
            "audit_log",
        )
    finally:
        batch.unpersist()  # frees the checkpoint blocks
    return {"load_count": n_loaded}
