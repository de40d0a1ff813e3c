"""HTTP serving layer: the reference REST surface (health / ingest /
patient reads / listing) plus the query extension, over a live server."""

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from healthcare_etl_pipeline_spark.api import EngineAPI, serve_background
from healthcare_etl_pipeline_spark.sources.warehouse import TransactionalWarehouse
from tests.conftest import make_patient


@pytest.fixture
def api_server(spark, tmp_path):
    wh = TransactionalWarehouse(spark, str(tmp_path / "api_wh"))
    wh.create_all()
    srv, port = serve_background(
        EngineAPI(spark, wh, "/root/testdata/sf0.001"), port=0
    )
    yield f"http://127.0.0.1:{port}/api/v1", wh
    srv.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url, payload):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health(api_server):
    base, _ = api_server
    status, body = _get(f"{base}/health")
    assert status == 200
    assert body["status"] == "healthy"
    assert body["database"] == "connected"


def test_ingest_then_read_and_list(api_server):
    base, wh = api_server
    status, body = _post(
        f"{base}/ingest",
        {"records": [make_patient(), make_patient(mrn="MRN-002")]},
    )
    assert status == 200
    assert body["status"] == "success"
    assert body["pipeline"] == "patient_ingestion"
    assert body["record_counts"]["load_count"] == 2
    assert body["record_counts"]["valid_count"] == 2

    status, listing = _get(f"{base}/patients?limit=10")
    assert status == 200
    assert {p["mrn"] for p in listing} == {"MRN-001", "MRN-002"}
    assert all(p["has_data_sharing_consent"] for p in listing)

    # keyset pagination: page after the first mrn returns only the second
    status, page2 = _get(f"{base}/patients?limit=10&after_mrn=MRN-001")
    assert status == 200
    assert [p["mrn"] for p in page2] == ["MRN-002"]

    # point read by id, audit row appended (reference routes.py:190 parity)
    pid = listing[0]["id"]
    audits_before = wh.read("audit_log").count()
    status, patient = _get(f"{base}/patients/{pid}")
    assert status == 200
    assert patient["id"] == pid
    assert patient["has_data_sharing_consent"] is True
    assert wh.read("audit_log").count() == audits_before + 1


def test_unknown_patient_404(api_server):
    base, _ = api_server
    status, body = _get(f"{base}/patients/no-such-id")
    assert status == 404
    assert body["detail"] == "Patient not found"


def test_ingest_validation_422(api_server):
    base, _ = api_server
    status, body = _post(f"{base}/ingest", {"records": []})
    assert status == 422


def test_query_endpoint(api_server):
    base, _ = api_server
    status, body = _get(f"{base}/queries")
    assert status == 200
    names = {q["name"] for q in body}
    assert "q1_pricing_summary" in names

    status, result = _post(f"{base}/query/q1_pricing_summary", {"limit": 2})
    assert status == 200
    assert result["row_count"] == 2
    assert {"l_returnflag", "l_linestatus"} <= set(result["rows"][0])

    status, body = _post(f"{base}/query/nope", {})
    assert status == 404


def test_concurrent_ingest_isolates_batches_and_mrn_uniqueness(api_server):
    """Round-4 hardening: N threads POST /ingest at once through the one
    shared session. Every batch must commit atomically, and an mrn that
    appears in TWO concurrent batches must be inserted exactly once — the
    OCC loser re-runs its pipeline and routes the duplicate to the
    conflict side-output instead of double-inserting or losing the rest
    of its batch."""
    import threading

    base, wh = api_server
    results = {}

    def post(i):
        # every batch carries a private mrn AND the contested one
        records = [
            make_patient(mrn=f"MRN-T{i}"),
            make_patient(mrn="MRN-SHARED"),
        ]
        results[i] = _post(f"{base}/ingest", {"records": records})

    threads = [threading.Thread(target=post, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert all(status == 200 for status, _ in results.values()), results
    assert all(body["status"] == "success" for _, body in results.values())

    patients = wh.read("patients")
    mrns = [r["mrn"] for r in patients.select("mrn").collect()]
    # every private mrn exactly once, the contested mrn exactly once
    assert sorted(mrns) == sorted([f"MRN-T{i}" for i in range(4)] + ["MRN-SHARED"])
    # exactly one batch won the contested mrn; the rest routed it to the
    # duplicate side-output (loaded 1 instead of 2)
    loaded = [
        body["record_counts"]["load_count"] for _, body in results.values()
    ]
    assert sorted(loaded) == [1, 1, 1, 2]
    # all four commits are present and serialized
    runs = [r for r in wh.committed_run_ids()]
    assert len(runs) == 4
    seqs = [s["seq"] for s in wh.snapshots()]
    assert len(set(seqs)) == 4


def test_list_reads_unaudited_by_default_audited_with_flag(spark, tmp_path):
    """SURVEY §3.3: the reference audits point reads but NOT list reads —
    default replicates that as-is; audit_list_reads=True opts in to ONE
    audit row per served page (page-level, never per-row)."""
    from healthcare_etl_pipeline_spark.plans.pipeline import ingest
    from tests.conftest import make_patient

    wh = TransactionalWarehouse(spark, str(tmp_path / "audit_wh"))
    wh.create_all()
    ingest(
        spark,
        [make_patient(mrn=f"MRN-{i:03d}") for i in range(3)],
        wh,
        batch_id="seed",
    )
    base_audit = wh.read("audit_log").count()

    # default: reference-parity, list reads leave no audit trace
    api = EngineAPI(spark, wh, "/root/testdata/sf0.001")
    status, body = api.list_patients(
        limit=10, offset=None, after_mrn=None
    )
    assert status == 200 and len(body) == 3
    assert wh.read("audit_log").count() == base_audit

    # flag on: exactly one audit row per page serve, action='list'
    audited = EngineAPI(
        spark, wh, "/root/testdata/sf0.001", audit_list_reads=True
    )
    status, body = audited.list_patients(limit=2, offset=None, after_mrn=None)
    assert status == 200 and len(body) == 2
    log = wh.read("audit_log")
    assert log.count() == base_audit + 1
    row = log.filter(F.col("action") == "list").orderBy(
        F.col("timestamp").desc()
    ).first()
    assert row is not None
    assert row.resource_type == "Patient" and row.resource_id is None
    assert json.loads(row.detail) == {
        "rows": 2, "limit": 2, "offset": None, "after": None
    }


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """One warehouse for the point-read tests: two committed batches, and
    MRN-B's consent rows erased so that reading it is a 403."""
    from healthcare_etl_pipeline_spark.plans.pipeline import ingest

    wh = TransactionalWarehouse(spark, str(tmp_path_factory.mktemp("served")))
    wh.create_all()
    ingest(
        spark, [make_patient(mrn="MRN-A"), make_patient(mrn="MRN-B")], wh
    )
    ingest(spark, [make_patient(mrn="MRN-C")], wh)
    ids = {r.mrn: r.id for r in wh.read("patients").collect()}
    wh.forget({"consent_records": F.col("patient_id") == ids["MRN-B"]})
    return EngineAPI(spark, wh, ""), wh, ids


def test_get_audit_appends_one_read_row(served):
    api, wh, ids = served
    before = {r.id for r in wh.read("audit_log").collect()}
    status, body = api.get_patient(ids["MRN-C"])
    assert status == 200 and body["mrn"] == "MRN-C"
    new = [r for r in wh.read("audit_log").collect() if r.id not in before]
    assert len(new) == 1
    row = new[0]
    assert (row.actor, row.action, row.resource_type, row.resource_id) == (
        "api_user", "read", "Patient", ids["MRN-C"]
    )
    assert row.detail is None
    assert row.timestamp is not None and row.dt is not None


def test_get_denied_or_missing_appends_no_audit(served):
    api, wh, ids = served
    before = wh.read("audit_log").count()
    status, body = api.get_patient(ids["MRN-B"])
    assert status == 403
    assert body["detail"] == "Patient has not granted data sharing consent"
    status, body = api.get_patient("no-such-id")
    assert status == 404 and body["detail"] == "Patient not found"
    assert wh.read("audit_log").count() == before


def test_get_spark_jobs_bounded(served):
    """Guard on the Spark jobs one point read launches: one scan of the
    patient row and its granted consent rows, plus the audit write on a
    200. Measured 2 / 1 / 1 jobs for a 200 / 403 / 404; the lookup,
    consent check and re-executed lookup under ``localCheckpoint`` it
    replaces took 4 for a 200."""
    api, _, ids = served
    sc = api.spark.sparkContext

    def jobs(tag, pid):
        group = f"get-job-guard-{tag}"
        sc.setJobGroup(group, "point-read job-count guard")
        try:
            status, _ = api.get_patient(pid)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return status, len(sc.statusTracker().getJobIdsForGroup(group))

    status, n = jobs("200", ids["MRN-A"])
    assert status == 200 and 0 < n <= 2, n
    status, n = jobs("403", ids["MRN-B"])
    assert status == 403 and 0 < n <= 1, n
    status, n = jobs("404", "no-such-id")
    assert status == 404 and 0 < n <= 1, n


def test_service_frames_are_local_relations(spark, tmp_path):
    """The frames the service builds from Python rows plan as a JVM
    ``LocalRelation``, never a ``LogicalRDD`` over a Python RDD (whose
    every job starts Python workers)."""
    import datetime

    from healthcare_etl_pipeline_spark.plans.dag import DAG
    from healthcare_etl_pipeline_spark.plans.pipeline import (
        records_to_df,
        write_run_record,
    )

    wh = TransactionalWarehouse(spark, str(tmp_path / "wh"))
    wh.create_all()
    staged = {}

    class Capture:
        def stage(self, df, table):
            staged[table] = df

    now = datetime.datetime.now()
    write_run_record(
        wh,
        DAG("patient_ingestion"),
        {"status": "success", "tasks": {}, "started_at": now,
         "completed_at": now, "context": {"extract_count": 1}},
        txn=Capture(),
    )
    wh.append = lambda df, table: staged.__setitem__(table, df)
    EngineAPI(spark, wh, "")._append_audit("read", "some-id", None)
    frames = {
        "records_to_df": records_to_df(spark, [make_patient()]),
        "pipeline_runs": staged["pipeline_runs"],
        "audit_log": staged["audit_log"],
        "empty read": wh.read("patients"),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, (name, plan)


def test_unroutable_consent_ingest_status(api_server):
    """A consent that is not a dict, or a consent value that is not a
    bool, cannot be typed: the batch is refused with a 500, as before the
    batch was built through Arrow."""
    base, wh = api_server
    for consent in ("yes", {"data_sharing": "yes"}):
        status, body = _post(
            f"{base}/ingest", {"records": [make_patient(consent=consent)]}
        )
        assert status == 500, (consent, status, body)
        assert body["detail"].startswith("PySparkTypeError"), body
    assert wh.read("patients").count() == 0
