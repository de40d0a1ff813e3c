"""The patient ingestion pipeline: extract → validate → check_consent →
transform → load, composed as DataFrame stages under the DAG runner.

Re-expresses reference app/etl/pipeline.py:135-143 (factory wiring the fixed
5-stage chain) and the /ingest handler's persistence+run-metadata block
(app/api/routes.py:74-164), Spark-first:

- Stages declare lazy DataFrame transformations. Every routing count
  (extract, valid/invalid, consented/blocked; transform = consented) comes
  from ONE aggregate over the extracted batch, run by the extract stage;
  the validate, check_consent and transform stages only declare their
  splits and report their share of that row. The load stage does the one
  real materialization (a local checkpoint before the multi-sink fan-out).
- One write path: ``ingest`` opens one warehouse transaction per batch; the
  load stage and the ``pipeline_runs`` row stage into it and one commit
  publishes all five tables (reference routes.py:148), or none of them.
- Not ``observe()``: with AQE on (Spark 4.1), empty-relation propagation
  drops the ``CollectMetrics`` node when a branch below it is empty, so an
  all-invalid or all-blocked batch loses its metrics (``toPyRow``
  assertion). An aggregate over the unsplit batch has no such branch.
- The run summary and ``pipeline_runs`` row reproduce the reference's
  observable output: per-task status/duration, record_counts harvested from
  ``*_count`` keys (routes.py:151-155), input/output counts, DAG snapshot.
"""

from __future__ import annotations

import json
import threading
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_etl_pipeline_spark.operators.consent import (
    consent_gate,
    consent_passes,
)
from healthcare_etl_pipeline_spark.operators.ingest import load_patients
from healthcare_etl_pipeline_spark.operators.transform import transform_patients
from healthcare_etl_pipeline_spark.operators.validation import (
    PATIENT_RULES,
    is_valid,
    validate_split,
)
from healthcare_etl_pipeline_spark.plans.dag import DAG
from healthcare_etl_pipeline_spark.session import local_frame
from healthcare_etl_pipeline_spark.sources.warehouse import (
    Transaction,
    TransactionalWarehouse,
)

RAW_PATIENT_SCHEMA = T.StructType(
    [
        T.StructField("resourceType", T.StringType()),
        T.StructField("mrn", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("birthDate", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("ssn", T.StringType()),
        T.StructField("consent", T.MapType(T.StringType(), T.BooleanType())),
    ]
)

MAX_BATCH_SIZE = 1000  # reference app/schemas/api.py:28

# Serializes the OCC validate+commit critical section for concurrent
# ingests in this driver (the API's threading server shares one session).
_OCC_COMMIT_LOCK = threading.Lock()


def records_to_df(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Batch source S1/S2: typed DataFrame from raw record dicts.

    Built through Arrow (``session.local_frame``), so the batch plans as a
    JVM ``LocalRelation`` and the routing aggregate, the splits and the
    load's checkpoint start no Python worker per job; only the encrypting
    pandas UDF does. Values are coerced exactly as ``createDataFrame(list)``
    coerces them: a bool in a string field becomes ``"true"``/``"false"``,
    any other non-str value ``str(v)`` (``123`` → ``"123"``); a consent
    that is not a dict, or a consent value that is not a bool or None,
    raises.
    """
    if not 1 <= len(records) <= MAX_BATCH_SIZE:
        raise ValueError(
            f"batch size must be between 1 and {MAX_BATCH_SIZE}, got {len(records)}"
        )
    normalized = [
        {f.name: r.get(f.name) for f in RAW_PATIENT_SCHEMA.fields} for r in records
    ]
    return local_frame(spark, normalized, RAW_PATIENT_SCHEMA)


def routing_counts(df: DataFrame, consent_col: Column) -> dict[str, int]:
    """The five routing counts of one batch, from ONE aggregate.

    Uses the same validity and consent predicates as ``validate_split`` and
    ``consent_gate``, so the counts match what the splits route.
    """
    flags = df.select(
        is_valid(PATIENT_RULES).alias("v"), consent_passes(consent_col).alias("c")
    )
    v, c = F.col("v"), F.col("c")
    row = flags.agg(
        F.count(F.lit(1)).alias("extract_count"),
        F.count_if(v).alias("valid_count"),
        F.count_if(~v).alias("invalid_count"),
        F.count_if(v & c).alias("consented_count"),
        F.count_if(v & ~c).alias("blocked_count"),
    ).first()
    return row.asDict()


def build_patient_ingestion_pipeline(
    warehouse: TransactionalWarehouse,
    txn: Transaction,
    *,
    actor: str = "pipeline",
    strict: bool = False,
) -> DAG:
    """The fixed 5-stage chain (reference pipeline.py:135-143); the load
    stage stages into ``txn``.

    Context keys mirror the reference stages: raw_df → validated/invalid →
    consented/blocked → transformed → load_count.
    """
    dag = DAG("patient_ingestion")
    data_sharing = F.col("consent")["data_sharing"]

    def extract(ctx: dict[str, Any]) -> dict[str, Any]:
        df: DataFrame = ctx["raw_df"]
        counts = routing_counts(df, data_sharing)
        return {
            "extracted_df": df,
            "routing": counts,
            "extract_count": counts["extract_count"],
        }

    def validate(ctx: dict[str, Any]) -> dict[str, Any]:
        valid, invalid = validate_split(ctx["extracted_df"], PATIENT_RULES)
        counts = ctx["routing"]
        return {
            "valid_df": valid,
            "invalid_df": invalid,
            "valid_count": counts["valid_count"],
            "invalid_count": counts["invalid_count"],
        }

    def check_consent(ctx: dict[str, Any]) -> dict[str, Any]:
        consented, blocked = consent_gate(ctx["valid_df"], consent_col=data_sharing)
        counts = ctx["routing"]
        return {
            "consented_df": consented,
            "blocked_df": blocked,
            "consented_count": counts["consented_count"],
            "blocked_count": counts["blocked_count"],
        }

    def transform(ctx: dict[str, Any]) -> dict[str, Any]:
        return {
            "transformed_df": transform_patients(ctx["consented_df"]),
            "transform_count": ctx["consented_count"],
        }

    def load(ctx: dict[str, Any]) -> dict[str, Any]:
        return load_patients(
            warehouse, ctx["transformed_df"], txn=txn, actor=actor, strict=strict
        )

    dag.add_task("extract", extract)
    dag.add_task("validate", validate, depends_on=["extract"])
    dag.add_task("check_consent", check_consent, depends_on=["validate"])
    dag.add_task("transform", transform, depends_on=["check_consent"])
    dag.add_task("load", load, depends_on=["transform"])
    return dag


def harvest_record_counts(summary: dict[str, Any]) -> dict[str, int]:
    """Collect every ``*_count`` context key (reference routes.py:151-155)."""
    return {
        k: v for k, v in summary.get("context", {}).items() if k.endswith("_count")
    }


def write_run_record(
    warehouse: TransactionalWarehouse,
    dag: DAG,
    summary: dict[str, Any],
    txn: Transaction,
) -> None:
    """Stage one pipeline_runs row per execution into ``txn`` (reference
    routes.py:137-147)."""
    counts = harvest_record_counts(summary)
    errors = {
        name: t["error"]
        for name, t in summary["tasks"].items()
        if t.get("error")
    }
    run_schema = T.StructType(
        [
            T.StructField("pipeline_name", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("started_at", T.TimestampType()),
            T.StructField("completed_at", T.TimestampType()),
            T.StructField("input_record_count", T.LongType()),
            T.StructField("output_record_count", T.LongType()),
            T.StructField("errors", T.StringType()),
            T.StructField("dag_definition", T.StringType()),
        ]
    )
    row = local_frame(
        warehouse.spark,
        [
            {
                "pipeline_name": dag.name,
                "status": "completed" if summary["status"] == "success" else "failed",
                # real run boundaries from dag.run (reference routes.py:140-141),
                # not a double write-time current_timestamp()
                "started_at": summary["started_at"],
                "completed_at": summary["completed_at"],
                "input_record_count": counts.get("extract_count"),
                "output_record_count": counts.get("load_count"),
                "errors": json.dumps(errors) if errors else None,
                "dag_definition": json.dumps(dag.to_dict()),
            }
        ],
        run_schema,
    ).select(
        F.expr("uuid()").alias("id"),
        "pipeline_name",
        "status",
        "started_at",
        "completed_at",
        "input_record_count",
        "output_record_count",
        "errors",
        "dag_definition",
    )
    txn.stage(row, "pipeline_runs")


def ingest(
    spark: SparkSession,
    records: list[dict],
    warehouse: TransactionalWarehouse,
    *,
    actor: str = "api",
    strict: bool = False,
    batch_id: str | None = None,
) -> dict[str, Any]:
    """End-to-end ingest of one batch, committed once (the reference POST
    /ingest path, app/api/routes.py:148): the patients, consent_records,
    clinical_records, audit_log AND pipeline_runs rows of one batch become
    visible ATOMICALLY or not at all.

    All five sinks stage under one run_id; the commit-marker rename is the
    transaction boundary, so a crash anywhere mid-ingest leaves no partial
    multi-table state. A failed run (say, strict mode meeting a duplicate
    mrn) commits nothing, not even its ``pipeline_runs`` row. Pass a stable
    ``batch_id`` for exactly-once re-runs: an already-committed batch is
    skipped, a crashed half-staged attempt is wiped and restaged.

    Concurrent ingests (the API layer serves one shared session across
    request threads) run optimistic concurrency control on the mrn
    uniqueness invariant: each attempt records the patients snapshot it
    validated against, and the validate+commit critical section is
    serialized (process-wide lock). If another batch committed an
    overlapping mrn meanwhile, this attempt ABORTS — publishing nothing —
    and re-runs the pipeline, whose anti-join now sees the winner's rows
    and routes the duplicate to the conflict side-output (or raises, in
    strict mode) instead of silently double-inserting. Cross-process
    writers get the same detection on a best-effort basis (the lock is
    per-driver); strict multi-driver serialization belongs to a shared
    metastore, as with any file-backed table format.
    """
    for _ in range(_OCC_MAX_RETRIES):
        txn = warehouse.begin(batch_id)
        if warehouse.is_committed(txn.run_id):
            return {
                "status": "skipped",
                "reason": "batch_id already committed",
                "txn": {"run_id": txn.run_id, "committed": True},
            }
        snapshot = set(warehouse.committed_runs_for("patients"))
        dag = build_patient_ingestion_pipeline(
            warehouse, txn, actor=actor, strict=strict
        )
        try:
            summary = dag.run({"raw_df": records_to_df(spark, records)})
            summary["record_counts"] = harvest_record_counts(summary)
            if summary["status"] != "success":
                txn.abort()  # failed run: stage nothing, surface the summary
                summary["txn"] = {"run_id": txn.run_id, "committed": False}
                return summary
            write_run_record(warehouse, dag, summary, txn)
            with _OCC_COMMIT_LOCK:
                if _mrn_conflict_since(spark, warehouse, txn, snapshot):
                    txn.abort()
                    continue  # retry: the anti-join will route the dup away
                committed = txn.commit()
            summary["txn"] = {"run_id": txn.run_id, "committed": committed}
            return summary
        except Exception:
            txn.abort()
            raise
    raise RuntimeError(
        f"ingest lost the mrn-conflict race {_OCC_MAX_RETRIES} times in a row"
    )


_OCC_MAX_RETRIES = 4


def _mrn_conflict_since(
    spark: SparkSession, warehouse, txn, snapshot: set
) -> bool:
    """True when a patients run committed AFTER ``snapshot`` shares an mrn
    with this transaction's staged patients — the cross-writer duplicate
    the in-pipeline anti-join (which only sees COMMITTED rows at stage
    time) cannot catch. Both sides are tiny targeted reads: the staged
    batch (≤1000 rows by contract) and only the concurrently-committed
    run dirs."""
    import os

    new_runs = [
        r
        for r in warehouse.committed_runs_for("patients")
        if r not in snapshot
    ]
    if not new_runs or "patients" not in txn.staged_tables:
        return False
    staged_dir = txn._stage_dir("patients")
    if not os.path.isdir(staged_dir):
        return False
    staged_mrns = spark.read.parquet(staged_dir).select("mrn")
    concurrent_mrns = spark.read.parquet(
        *[warehouse.run_dir("patients", r) for r in new_runs]
    ).select("mrn")
    return bool(
        staged_mrns.join(concurrent_mrns, "mrn", "left_semi").take(1)
    )
