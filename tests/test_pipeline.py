"""E2E 5-stage pipeline tests (ported from reference tests/test_pipeline.py)."""

import json

import pytest

from healthcare_etl_pipeline_spark.functions.encryption import make_decrypt_udf
from healthcare_etl_pipeline_spark.plans.pipeline import ingest, records_to_df
from healthcare_etl_pipeline_spark.sources.warehouse import TransactionalWarehouse
from tests.conftest import make_patient


def test_happy_path_loads_one_record(spark, warehouse):
    summary = ingest(spark, [make_patient()], warehouse)

    assert summary["status"] == "success"
    assert summary["record_counts"]["extract_count"] == 1
    assert summary["record_counts"]["valid_count"] == 1
    assert summary["record_counts"]["consented_count"] == 1
    assert summary["record_counts"]["load_count"] == 1

    patients = warehouse.read("patients").collect()
    assert len(patients) == 1
    row = patients[0]
    # ciphertext differs from plaintext (reference test_pipeline.py:17-34)
    assert row.encrypted_name != "Jane Doe"
    assert row.mrn == "MRN-001"
    # decrypt roundtrip recovers the original
    import pyspark.sql.functions as F

    dec = make_decrypt_udf()
    name_rt = (
        warehouse.read("patients").select(dec(F.col("encrypted_name"))).collect()[0][0]
    )
    assert name_rt == "Jane Doe"

    # PHI keys absent from the stored payload
    clinical = warehouse.read("clinical_records").collect()
    assert len(clinical) == 1
    payload = json.loads(clinical[0].fhir_resource)
    assert "name" not in payload
    assert "birthDate" not in payload
    assert "ssn" not in payload
    assert payload["mrn"] == "MRN-001"


def test_invalid_record_routed_not_loaded(spark, warehouse):
    summary = ingest(
        spark, [make_patient(mrn=None, name=None)], warehouse
    )
    counts = summary["record_counts"]
    assert counts["valid_count"] == 0
    assert counts["invalid_count"] == 1
    assert counts["load_count"] == 0
    assert summary["status"] == "success"  # non-fatal validation


def test_no_consent_blocked(spark, warehouse):
    summary = ingest(
        spark, [make_patient(consent={"data_sharing": False})], warehouse
    )
    counts = summary["record_counts"]
    assert counts["valid_count"] == 1
    assert counts["consented_count"] == 0
    assert counts["blocked_count"] == 1
    assert counts["load_count"] == 0


def test_missing_consent_blocked(spark, warehouse):
    summary = ingest(spark, [make_patient(consent=None)], warehouse)
    assert summary["record_counts"]["blocked_count"] == 1
    assert summary["record_counts"]["load_count"] == 0


def test_mixed_batch(spark, warehouse):
    """3 records → 2 valid, 1 consented, 1 loaded (reference :58-71)."""
    batch = [
        make_patient(),
        make_patient(mrn="MRN-002", name="John Roe", consent={"data_sharing": False}),
        make_patient(mrn="MRN-003", name=None),  # invalid
    ]
    summary = ingest(spark, batch, warehouse)
    counts = summary["record_counts"]
    assert counts["extract_count"] == 3
    assert counts["valid_count"] == 2
    assert counts["invalid_count"] == 1
    assert counts["consented_count"] == 1
    assert counts["blocked_count"] == 1
    assert counts["load_count"] == 1


def test_batch_size_limits(spark):
    with pytest.raises(ValueError, match="batch size"):
        records_to_df(spark, [])
    with pytest.raises(ValueError, match="batch size"):
        records_to_df(spark, [make_patient()] * 1001)
    assert records_to_df(spark, [make_patient()] * 3).count() == 3


def test_duplicate_mrn_conflict_routing(spark, warehouse):
    ingest(spark, [make_patient()], warehouse)
    # same mrn again: default mode routes the conflict aside, loads nothing new
    summary = ingest(spark, [make_patient(name="Other Person")], warehouse)
    assert summary["record_counts"]["load_count"] == 0
    assert warehouse.read("patients").count() == 1


def test_duplicate_mrn_strict_raises(spark, warehouse):
    ingest(spark, [make_patient()], warehouse)
    summary = ingest(spark, [make_patient()], warehouse, strict=True)
    # strict mode: the load stage fails (reference 409 semantics)
    assert summary["status"] == "failed"
    assert "DuplicateMrnError" in summary["tasks"]["load"]["error"]


def test_run_record_written(spark, warehouse):
    ingest(spark, [make_patient()], warehouse)
    runs = warehouse.read("pipeline_runs").collect()
    assert len(runs) == 1
    run = runs[0]
    assert run.pipeline_name == "patient_ingestion"
    assert run.status == "completed"
    assert run.input_record_count == 1
    assert run.output_record_count == 1
    dag_def = json.loads(run.dag_definition)
    assert list(dag_def["tasks"]) == [
        "extract",
        "validate",
        "check_consent",
        "transform",
        "load",
    ]
    # real run boundaries, not a double write-time stamp: the 5-stage run
    # takes measurable wall-clock, so started_at must be strictly earlier
    assert run.started_at < run.completed_at


def test_run_record_timestamps_span_slow_stage(spark, warehouse):
    """started_at/completed_at bracket the actual DAG execution."""
    import time as _time
    from datetime import datetime

    from healthcare_etl_pipeline_spark.plans.dag import DAG
    from healthcare_etl_pipeline_spark.plans.pipeline import write_run_record

    dag = DAG("slow_pipeline")
    dag.add_task("sleepy", lambda ctx: _time.sleep(0.3) or {"extract_count": 0})
    before = datetime.utcnow()
    summary = dag.run({})
    txn = warehouse.begin()
    write_run_record(warehouse, dag, summary, txn)
    assert txn.commit()
    after = datetime.utcnow()
    run = [r for r in warehouse.read("pipeline_runs").collect()
           if r.pipeline_name == "slow_pipeline"][0]
    span = (run.completed_at - run.started_at).total_seconds()
    assert span >= 0.3  # covers the slow stage, not a single write-time stamp
    assert before <= run.started_at <= run.completed_at <= after


def test_audit_rows_written(spark, warehouse):
    ingest(spark, [make_patient()], warehouse)
    audit = warehouse.read("audit_log").collect()
    assert len(audit) == 1
    assert audit[0].action == "create"
    assert audit[0].resource_type == "Patient"


def test_consent_explode_rows(spark, warehouse):
    ingest(spark, [make_patient()], warehouse)
    consents = {
        (r.consent_type, r.granted): r for r in warehouse.read("consent_records").collect()
    }
    assert set(consents) == {("data_sharing", True), ("research", False)}
    # granted_at stamped iff granted (reference routes.py:113)
    assert consents[("data_sharing", True)].granted_at is not None
    assert consents[("research", False)].granted_at is None


def test_intra_batch_duplicate_mrn_all_routed(spark, warehouse):
    """Two same-mrn records in ONE batch: both are conflicts, neither loads
    (reference: the second insert 409s the whole batch)."""
    batch = [make_patient(), make_patient(name="Other Person")]
    summary = ingest(spark, batch, warehouse)
    assert summary["record_counts"]["load_count"] == 0
    assert warehouse.read("patients").count() == 0


def test_intra_batch_duplicate_mrn_strict_raises(spark, warehouse):
    batch = [make_patient(), make_patient(name="Other Person")]
    summary = ingest(spark, batch, warehouse, strict=True)
    assert summary["status"] == "failed"
    assert "DuplicateMrnError" in summary["tasks"]["load"]["error"]


def _txn_warehouse(spark, tmp_path):
    wh = TransactionalWarehouse(spark, str(tmp_path / "txn_warehouse"))
    wh.create_all()
    return wh


def _ingest_atomic(spark, records, tmp_path):
    summary = ingest(spark, records, _txn_warehouse(spark, tmp_path))
    assert summary["txn"]["committed"] == (summary["status"] == "success")
    return summary


INGEST_PATHS = pytest.mark.parametrize(
    "ingest_path", [_ingest_atomic], ids=["atomic"]
)


def _counts(extract, valid, consented, load):
    return {
        "extract_count": extract,
        "valid_count": valid,
        "invalid_count": extract - valid,
        "consented_count": consented,
        "blocked_count": valid - consented,
        "transform_count": consented,
        "load_count": load,
    }


@INGEST_PATHS
@pytest.mark.parametrize(
    "records, expected",
    [
        # no record passes validation: every branch below validate is empty
        ([make_patient(mrn=None)], _counts(1, 0, 0, 0)),
        # every valid record is blocked: consented branch is empty
        ([make_patient(consent={"data_sharing": False})], _counts(1, 1, 0, 0)),
    ],
    ids=["all_invalid", "all_blocked"],
)
def test_routing_counts_exact(spark, tmp_path, ingest_path, records, expected):
    summary = ingest_path(spark, records, tmp_path)
    assert summary["status"] == "success"
    assert summary["record_counts"] == expected


def test_routing_counts_strict_duplicate_fails_load(spark, tmp_path):
    twh = _txn_warehouse(spark, tmp_path)
    ingest(spark, [make_patient()], twh)
    summary = ingest(spark, [make_patient()], twh, strict=True)
    assert summary["status"] == "failed"
    assert summary["txn"]["committed"] is False
    assert "DuplicateMrnError" in summary["tasks"]["load"]["error"]
    # the routing stages succeeded; only the failed load has no count
    expected = _counts(1, 1, 1, load=0)
    del expected["load_count"]
    assert summary["record_counts"] == expected
    assert twh.read("patients").count() == 1


def test_ingest_spark_jobs_bounded(spark, tmp_path):
    """Guard on the Spark jobs one atomic ingest launches.

    Measured on this mixed batch into a non-empty table: 13 jobs, against
    23 when each of the six routed branches ran its own count action. The
    bound is the measured 13 plus 2 of headroom for AQE re-planning; the
    per-branch counts (10 jobs) cannot come back under it.
    """
    twh = _txn_warehouse(spark, tmp_path)
    batch = [
        make_patient(),
        make_patient(mrn="MRN-002", name="John Roe", consent={"data_sharing": False}),
        make_patient(mrn="MRN-003", name=None),
        make_patient(mrn="MRN-004", name="Ana Diaz"),
    ]
    ingest(spark, batch, twh)
    batch = [dict(r, mrn=f"{r['mrn']}-B") for r in batch]
    sc = spark.sparkContext
    group = f"ingest-job-guard-{tmp_path.name}"
    sc.setJobGroup(group, "ingest job-count guard")
    try:
        summary = ingest(spark, batch, twh)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert summary["status"] == "success"
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 15, n_jobs


# What ``createDataFrame(list, RAW_PATIENT_SCHEMA)`` returned for each
# record override (pyspark 4.1.2), pinned so the Arrow-built batch can be
# held to it: a bool in a string field is "true"/"false", any other
# non-str value is ``str(v)``.
LIST_PATH_COERCION = [
    ({"mrn": 123}, "mrn", "123"),
    ({"mrn": True}, "mrn", "true"),
    ({"name": 1.5}, "name", "1.5"),
    ({"name": {"a": 1}}, "name", "{'a': 1}"),
    ({"ssn": [1, "x"]}, "ssn", "[1, 'x']"),
    ({"birthDate": 19800412}, "birthDate", "19800412"),
    ({"gender": None}, "gender", None),
    ({"consent": None}, "consent", None),
    ({"consent": {"data_sharing": None}}, "consent", {"data_sharing": None}),
]


def test_records_to_df_coercion_matches_list_path(spark):
    records = [make_patient(**o) for o, _, _ in LIST_PATH_COERCION]
    rows = records_to_df(spark, records).collect()
    got = [row[field] for row, (_, field, _) in zip(rows, LIST_PATH_COERCION)]
    assert got == [want for _, _, want in LIST_PATH_COERCION]
