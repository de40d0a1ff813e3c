"""Streaming patient ingest: the 5-stage pipeline as a Structured Streaming
sink via ``foreachBatch``.

The reference's execution model is "an HTTP POST triggers one pipeline run
over its batch" (reference README.md:49 framing, handler
app/api/routes.py:66-164). Structured Streaming generalizes that: a file /
queue source of patient-record JSON, each micro-batch pushed through the
SAME batch operators (validate split → consent gate → transform → load) —
no second implementation of the pipeline, which is the point: batch and
streaming share one code path, so parity holds by construction.

Scale notes:
- ``foreachBatch`` is the right sink here because the load stage fans out
  to four tables; per-row sinks would re-shuffle per table.
- Exactly-once: each micro-batch is ONE warehouse transaction
  (``streaming.txn_sink.txn_batch_sink``) whose run id is keyed by the
  checkpoint and the checkpoint-stable batch id. A restart from the same
  checkpoint replays a committed batch as a no-op (its commit marker
  exists) and restages a batch that crashed mid-write from scratch, so a
  crash never leaves patients without their consent, clinical and audit
  rows. A second checkpoint over the same files is a new stream: its
  patients meet the mrn anti-join and route as conflicts.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from healthcare_etl_pipeline_spark.plans.pipeline import RAW_PATIENT_SCHEMA
from healthcare_etl_pipeline_spark.sources.warehouse import TransactionalWarehouse


def patient_record_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of patient-record JSON lines (schema pinned)."""
    return spark.readStream.schema(RAW_PATIENT_SCHEMA).json(path)


def streaming_patient_ingest(
    stream: DataFrame,
    warehouse: TransactionalWarehouse,
    *,
    checkpoint_dir: str,
    actor: str = "stream",
) -> StreamingQuery:
    """Run the batch pipeline operators per micro-batch, one transaction
    each; bounded by ``availableNow`` (callers await termination for a
    drain-style run, or drop the trigger for continuous ingest)."""
    from pyspark.sql import functions as F

    from healthcare_etl_pipeline_spark.operators.consent import consent_gate
    from healthcare_etl_pipeline_spark.operators.ingest import load_patients
    from healthcare_etl_pipeline_spark.operators.transform import transform_patients
    from healthcare_etl_pipeline_spark.operators.validation import (
        PATIENT_RULES,
        validate_split,
    )
    from healthcare_etl_pipeline_spark.streaming.txn_sink import txn_batch_sink

    ckpt_key = hashlib.sha1(os.path.abspath(checkpoint_dir).encode()).hexdigest()
    batch_prefix = f"ingest-{ckpt_key[:12]}"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        def write(txn, df: DataFrame) -> None:
            valid, _invalid = validate_split(df, PATIENT_RULES)
            consented, _blocked = consent_gate(
                valid, consent_col=F.col("consent")["data_sharing"]
            )
            load_patients(
                warehouse,
                transform_patients(consented),
                txn=txn,
                actor=f"{actor}:batch={batch_id}",
            )

        txn_batch_sink(warehouse, write, batch_prefix=batch_prefix)(
            batch_df, batch_id
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
