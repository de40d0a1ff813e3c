"""Warehouse compaction maintenance tests."""

import pathlib

from healthcare_etl_pipeline_spark.plans.pipeline import ingest
from tests.conftest import make_patient


def _live_parquet_files(wh, table):
    """Data files of the committed, not superseded runs: the files a read
    opens (a compaction's replaced runs stay on disk until ``vacuum``)."""
    return [
        f
        for run in wh.committed_runs_for(table)
        for f in pathlib.Path(wh.run_dir(table, run)).rglob("*.parquet")
    ]


def test_compact_reduces_files_preserves_rows(spark, warehouse):
    for i in range(5):
        ingest(spark, [make_patient(mrn=f"MRN-C{i}")], warehouse)
    before_rows = {r.mrn for r in warehouse.read("patients").collect()}
    assert len(_live_parquet_files(warehouse, "patients")) >= 5

    n_files = warehouse.compact("patients", target_file_mb=128, sort_by="mrn")
    assert n_files == 1
    assert len(_live_parquet_files(warehouse, "patients")) == 1
    assert {r.mrn for r in warehouse.read("patients").collect()} == before_rows


def test_compact_partitioned_table(spark, warehouse):
    for i in range(3):
        ingest(spark, [make_patient(mrn=f"MRN-P{i}")], warehouse)
    before = warehouse.read("audit_log").count()
    warehouse.compact("audit_log")
    after_files = _live_parquet_files(warehouse, "audit_log")
    assert len(after_files) >= 1
    # partition layout (dt=...) preserved
    assert all("dt=" in str(f) for f in after_files)
    assert warehouse.read("audit_log").count() == before
