"""CLI front-end tests (in-process main(), reusing the session fixture)."""

import json
import pathlib

import pyarrow.parquet as pq

from healthcare_etl_pipeline_spark.__main__ import main
from healthcare_etl_pipeline_spark.api import EngineAPI
from healthcare_etl_pipeline_spark.operators import ingest as ingest_ops
from healthcare_etl_pipeline_spark.sources.warehouse import (
    TABLE_SCHEMAS,
    TransactionalWarehouse,
)


def test_cli_list_and_run(spark, capsys):
    assert main(["list", "--tag", "tpch"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out

    assert main(["run", "q1_pricing_summary", "--sf-dir", "/root/testdata/sf0.001", "-n", "3"]) == 0
    assert "sum_qty" in capsys.readouterr().out


def test_cli_unknown_query(spark, capsys):
    assert main(["run", "no_such_query"]) == 2


def _write_batch(tmp_path):
    batch = tmp_path / "batch.jsonl"
    batch.write_text(
        json.dumps(
            {
                "resourceType": "Patient",
                "mrn": "CLI-9",
                "name": "Cli User",
                "birthDate": "1990-01-01",
                "gender": "other",
                "ssn": None,
                "consent": {"data_sharing": True},
            }
        )
    )
    return str(batch)


def test_cli_ingest(spark, tmp_path, capsys):
    rc = main(["ingest", _write_batch(tmp_path), "--warehouse", str(tmp_path / "wh")])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert out["status"] == "success"
    assert out["record_counts"]["load_count"] == 1


def test_cli_ingest_visible_to_server(spark, tmp_path, capsys):
    """What ``ingest`` commits is what ``serve`` reads: both open the same
    transactional warehouse."""
    root = str(tmp_path / "wh")
    assert main(["ingest", _write_batch(tmp_path), "--warehouse", root]) == 0
    capsys.readouterr()
    api = EngineAPI(spark, TransactionalWarehouse(spark, root), "")
    status, body = api.list_patients(limit=10, offset=None, after_mrn=None)
    assert status == 200
    assert [p["mrn"] for p in body] == ["CLI-9"]


def test_cli_ingest_crash_leaves_no_rows(spark, tmp_path, capsys, monkeypatch):
    """A load stage that fails after the patients stage commits nothing:
    no table shows a row, and no row reaches disk."""

    def crash(_patients):  # the consent sink runs right after patients
        raise RuntimeError("injected crash after the patients stage")

    monkeypatch.setattr(ingest_ops, "explode_consents", crash)
    root = tmp_path / "wh"
    assert main(["ingest", _write_batch(tmp_path), "--warehouse", str(root)]) == 1
    out = json.loads(capsys.readouterr().out)
    assert "injected crash" in out["tasks"]["load"]["error"]
    wh = TransactionalWarehouse(spark, str(root))
    assert {t: wh.read(t).count() for t in TABLE_SCHEMAS} == dict.fromkeys(
        TABLE_SCHEMAS, 0
    )
    on_disk = {
        t: sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in pathlib.Path(root, t).rglob("*.parquet")
        )
        for t in TABLE_SCHEMAS
    }
    assert on_disk == dict.fromkeys(TABLE_SCHEMAS, 0)
