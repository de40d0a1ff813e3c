"""Transactional multi-table ingest: atomic visibility, crash safety,
idempotent re-runs, transactional compaction.

Closes SURVEY §7.6's documented deviation — the reference commits patients +
consents + clinical + audit + run metadata in ONE transaction (reference
app/api/routes.py:148); round 2's ordered appends could leave partial state
on a mid-ingest crash. The protocol under test: staged run-id partition dirs
published by a single atomic commit-marker rename.
"""

import os

import pytest

from healthcare_etl_pipeline_spark.plans.pipeline import ingest
from healthcare_etl_pipeline_spark.sources.warehouse import (
    TABLE_SCHEMAS,
    TransactionalWarehouse,
)
from tests.conftest import make_patient


@pytest.fixture
def twh(spark, tmp_path):
    wh = TransactionalWarehouse(spark, str(tmp_path / "txn_warehouse"))
    wh.create_all()
    return wh


DATA_TABLES = ["patients", "consent_records", "clinical_records", "audit_log"]


def table_counts(wh):
    return {t: wh.read(t).count() for t in TABLE_SCHEMAS}


def test_atomic_ingest_happy_path(spark, twh):
    summary = ingest(spark, [make_patient()], twh, batch_id="b1")
    assert summary["status"] == "success"
    assert summary["txn"]["committed"] is True
    counts = table_counts(twh)
    assert counts["patients"] == 1
    assert counts["consent_records"] == 2  # data_sharing + research entries
    assert counts["clinical_records"] == 1
    assert counts["audit_log"] == 1
    assert counts["pipeline_runs"] == 1  # the run row is IN the transaction


def test_crash_mid_ingest_leaves_no_partial_state(spark, twh):
    """Stage some tables, then 'crash' (no commit): every reader sees nothing."""
    from healthcare_etl_pipeline_spark.operators.transform import transform_patients
    from healthcare_etl_pipeline_spark.plans.pipeline import records_to_df

    transformed = transform_patients(records_to_df(spark, [make_patient()]))
    txn = twh.begin("crashy")
    from healthcare_etl_pipeline_spark.operators.ingest import load_patients

    # the loader stages all 4 data tables into the txn...
    load_patients(twh, transformed, txn=txn)
    # ...but the process dies before commit() — simulate by just not committing.
    # pre-commit bytes live in the txn's PRIVATE staging dir, never run_dir
    assert not any(os.path.isdir(twh.run_dir(t, "crashy")) for t in DATA_TABLES)
    staged_files = [
        p for t in DATA_TABLES for p in [txn._stage_dir(t)] if os.path.isdir(p)
    ]
    assert len(staged_files) == 4  # bytes ARE on disk...
    assert all(n == 0 for n in table_counts(twh).values())  # ...yet invisible

    # vacuum reclaims the orphaned staging dirs without changing any reader
    reclaimed = twh.vacuum()
    assert reclaimed == ["crashy"]
    assert not any(os.path.isdir(p) for p in staged_files)
    assert all(n == 0 for n in table_counts(twh).values())


def test_rerun_after_crash_is_exactly_once(spark, twh):
    """Crashed half-staged attempt + retry with the same batch_id → one batch."""
    from healthcare_etl_pipeline_spark.operators.transform import transform_patients
    from healthcare_etl_pipeline_spark.plans.pipeline import records_to_df

    transformed = transform_patients(records_to_df(spark, [make_patient()]))
    crashed = twh.begin("batch-42")
    crashed.stage(
        transformed.selectExpr(
            "uuid() AS id",
            "encrypted_name",
            "encrypted_dob",
            "encrypted_ssn",
            "mrn",
            "gender",
            "current_timestamp() AS created_at",
            "CAST(NULL AS TIMESTAMP) AS updated_at",
        ),
        "patients",
    )
    # no commit — crash. Retry the same logical batch:
    summary = ingest(
        spark, [make_patient()], twh, batch_id="batch-42"
    )
    assert summary["txn"]["committed"] is True
    # the crashed attempt's staged rows were wiped, not doubled
    assert twh.read("patients").count() == 1


def test_rerun_after_commit_is_skipped(spark, twh):
    first = ingest(spark, [make_patient()], twh, batch_id="b9")
    assert first["txn"]["committed"] is True
    second = ingest(spark, [make_patient()], twh, batch_id="b9")
    assert second["status"] == "skipped"
    assert twh.read("patients").count() == 1
    assert twh.read("pipeline_runs").count() == 1


def test_reader_snapshot_excludes_uncommitted(spark, twh):
    ingest(spark, [make_patient(mrn="M1")], twh, batch_id="c1")
    # open txn stages a second patient but has not committed
    from healthcare_etl_pipeline_spark.operators.transform import transform_patients
    from healthcare_etl_pipeline_spark.plans.pipeline import records_to_df
    from healthcare_etl_pipeline_spark.operators.ingest import load_patients

    txn = twh.begin()
    load_patients(
        twh,
        transform_patients(records_to_df(spark, [make_patient(mrn="M2")])),
        txn=txn,
    )
    assert [r.mrn for r in twh.read("patients").collect()] == ["M1"]
    txn.commit()
    assert sorted(r.mrn for r in twh.read("patients").collect()) == ["M1", "M2"]


def test_duplicate_mrn_across_committed_batches_routed(spark, twh):
    """The conflict anti-join sees committed state through the txn reader."""
    ingest(spark, [make_patient(mrn="DUP")], twh, batch_id="d1")
    summary = ingest(
        spark, [make_patient(mrn="DUP")], twh, batch_id="d2"
    )
    assert summary["record_counts"]["load_count"] == 0
    assert twh.read("patients").count() == 1


def test_transactional_compact_preserves_rows(spark, twh):
    for i in range(3):
        ingest(
            spark, [make_patient(mrn=f"M{i}")], twh, batch_id=f"k{i}"
        )
    before = sorted(r.mrn for r in twh.read("patients").collect())
    n_files = twh.compact("patients")
    assert n_files >= 1
    after = sorted(r.mrn for r in twh.read("patients").collect())
    assert after == before
    # exactly one live run remains for patients; the 3 ingest runs are dead
    assert len(twh.committed_runs_for("patients")) == 1
    # other tables still see their original runs (per-table supersede)
    assert twh.read("clinical_records").count() == 3
    # vacuum reclaims the superseded run dirs; rows unchanged
    reclaimed = twh.vacuum()
    assert set(reclaimed) == {"k0", "k1", "k2"}
    assert sorted(r.mrn for r in twh.read("patients").collect()) == before


def test_failed_validation_run_commits_nothing(spark, twh):
    """strict=True + duplicate mrn → the DAG captures the DuplicateMrnError,
    the run reports failed, and the aborted txn leaves zero new rows."""
    ingest(spark, [make_patient(mrn="X")], twh, batch_id="s1")
    summary = ingest(
        spark, [make_patient(mrn="X")], twh, batch_id="s2", strict=True
    )
    assert summary["status"] != "success"
    assert summary["txn"]["committed"] is False
    counts = table_counts(twh)
    assert counts["patients"] == 1
    assert counts["pipeline_runs"] == 1  # no run row from the aborted txn
    assert not twh.is_committed("s2")


# --- time travel + snapshot history ---------------------------------------


def test_snapshots_are_sequenced(spark, twh):
    ingest(spark, [make_patient()], twh, batch_id="s1")
    ingest(
        spark, [make_patient(mrn="MRN2")], twh, batch_id="s2"
    )
    snaps = twh.snapshots()
    assert [s["run_id"] for s in snaps] == ["s1", "s2"]
    assert [s["seq"] for s in snaps] == [1, 2]
    assert "patients" in snaps[0]["tables"]


def test_time_travel_read_excludes_later_commits(spark, twh):
    ingest(spark, [make_patient()], twh, batch_id="s1")
    ingest(spark, [make_patient(mrn="MRN2")], twh, batch_id="s2")
    assert twh.read("patients").count() == 2
    assert twh.read("patients", as_of=1).count() == 1
    assert twh.read("patients", as_of="s1").count() == 1
    # as-of the first snapshot, only the first batch's mrn is visible
    assert twh.read("patients", as_of="s1").select("mrn").first().mrn == "MRN-001"


def test_time_travel_survives_compaction(spark, twh):
    ingest(spark, [make_patient()], twh, batch_id="s1")
    ingest(spark, [make_patient(mrn="MRN2")], twh, batch_id="s2")
    twh.compact("patients")
    # current read = compacted run only, still 2 rows
    assert twh.read("patients").count() == 2
    assert len(twh.committed_runs_for("patients")) == 1
    # time travel to before the compaction still resolves the original runs
    assert twh.read("patients", as_of="s1").count() == 1
    assert twh.read("patients", as_of="s2").count() == 2
    # vacuum expires the superseded snapshots (documented, Iceberg-style)
    twh.vacuum()
    assert twh.read("patients").count() == 2


def test_time_travel_unknown_run_id_raises(spark, twh):
    ingest(spark, [make_patient()], twh, batch_id="s1")
    with pytest.raises(KeyError):
        twh.read("patients", as_of="nope")


# --- registered (extra) tables --------------------------------------------


def test_register_table_roundtrip(spark, twh):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    twh.register_table("kv_log", schema)
    df = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    txn = twh.begin("kv1")
    txn.stage(df, "kv_log")
    txn.commit()
    out = twh.read("kv_log")
    assert out.count() == 2
    assert {r.v for r in out.collect()} == {"a", "b"}
    # built-in names and bad identifiers are rejected
    with pytest.raises(ValueError):
        twh.register_table("patients", schema)
    with pytest.raises(ValueError):
        twh.register_table("bad name!", schema)


# --- exactly-once streaming sink ------------------------------------------


def test_stream_txn_sink_exactly_once(spark, twh, tmp_path):
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.streaming.txn_sink import (
        run_stream_to_txn,
        txn_batch_sink,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    twh.register_table("kv_log", schema)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], schema
    ).repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_stream_to_txn(
        stream,
        twh,
        "kv_log",
        checkpoint_dir=str(tmp_path / "ckpt"),
        batch_prefix="kv",
    )
    assert twh.read("kv_log").count() == 40
    n_commits = len(twh.committed_run_ids())
    assert n_commits >= 4  # one txn per micro-batch

    # crash-after-commit replay: same batch_id again must be a no-op
    replay = spark.read.parquet(src).limit(10)
    txn_batch_sink(
        twh, lambda txn, df: txn.stage(df, "kv_log"), batch_prefix="kv"
    )(replay, 0)
    assert twh.read("kv_log").count() == 40
    assert len(twh.committed_run_ids()) == n_commits

    # restart with the SAME checkpoint and no new data: no new commits
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_stream_to_txn(
        stream2,
        twh,
        "kv_log",
        checkpoint_dir=str(tmp_path / "ckpt"),
        batch_prefix="kv",
    )
    assert twh.read("kv_log").count() == 40


# --- right to be forgotten ------------------------------------------------


def test_forget_erases_subject_across_tables_atomically(spark, twh):
    from pyspark.sql import functions as F

    ingest(spark, [make_patient()], twh, batch_id="s1")
    ingest(spark, [make_patient(mrn="MRN2")], twh, batch_id="s2")
    pid = (
        twh.read("patients").filter(F.col("mrn") == "MRN-001").first().id
    )
    consents_before = twh.read("consent_records").count()
    clinical_before = twh.read("clinical_records").count()

    erased = twh.forget(
        {
            "patients": F.col("id") == pid,
            "consent_records": F.col("patient_id") == pid,
            "clinical_records": F.col("patient_id") == pid,
        }
    )
    assert erased["patients"] == 1
    assert erased["consent_records"] == 2  # data_sharing + research rows

    # subject is gone from every table; the other patient is intact
    assert twh.read("patients").filter(F.col("id") == pid).count() == 0
    assert twh.read("patients").count() == 1
    assert (
        twh.read("consent_records").count()
        == consents_before - erased["consent_records"]
    )
    assert (
        twh.read("clinical_records").count()
        == clinical_before - erased["clinical_records"]
    )

    # erasure is one snapshot: time travel BEFORE it still shows the
    # subject (until vacuum expires those snapshots — the GDPR point)
    assert twh.read("patients", as_of="s2").count() == 2
    twh.vacuum()
    assert twh.read("patients").count() == 1


def test_forget_aborts_cleanly_on_bad_predicate(spark, twh):
    from pyspark.sql import functions as F

    ingest(spark, [make_patient()], twh, batch_id="s1")
    n_before = twh.read("patients").count()
    with pytest.raises(Exception):
        twh.forget({"patients": F.col("no_such_column") == 1})
    # nothing changed, no half-erased state
    assert twh.read("patients").count() == n_before


# --- incremental (CDC-style) reads -----------------------------------------


def test_read_changes_returns_only_new_batches(spark, twh):
    ingest(spark, [make_patient()], twh, batch_id="s1")
    ingest(spark, [make_patient(mrn="MRN2")], twh, batch_id="s2")
    ingest(spark, [make_patient(mrn="MRN3")], twh, batch_id="s3")
    inc = twh.read_changes("patients", since="s1")
    assert sorted(r.mrn for r in inc.select("mrn").collect()) == ["MRN2", "MRN3"]
    # bounded window: (s1, s2]
    mid = twh.read_changes("patients", since="s1", until="s2")
    assert [r.mrn for r in mid.select("mrn").collect()] == ["MRN2"]
    # nothing after the head snapshot -> empty frame with the table schema
    none = twh.read_changes("patients", since="s3")
    assert none.count() == 0
    assert "mrn" in none.columns


def test_read_changes_skips_compaction_rewrites(spark, twh):
    ingest(spark, [make_patient()], twh, batch_id="s1")
    ingest(spark, [make_patient(mrn="MRN2")], twh, batch_id="s2")
    twh.compact("patients")
    # the compaction commit replaces s1+s2 but adds no rows: an incremental
    # consumer that already processed s2 must see NO new rows
    assert twh.read_changes("patients", since="s2").count() == 0
    # a consumer at s1 sees exactly the s2 batch, not the rewritten union
    inc = twh.read_changes("patients", since="s1")
    assert [r.mrn for r in inc.select("mrn").collect()] == ["MRN2"]


def test_read_changes_unknown_snapshot_raises(spark, twh):
    ingest(spark, [make_patient()], twh, batch_id="s1")
    with pytest.raises(KeyError):
        twh.read_changes("patients", since="nope")
