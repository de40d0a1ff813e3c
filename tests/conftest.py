import pytest

from healthcare_etl_pipeline_spark.session import get_spark, tune_for_local_tests
from healthcare_etl_pipeline_spark.sources.warehouse import TransactionalWarehouse


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        cpus=8,
        extra_conf={
            # static conf: must be set at session creation (bucketed-table
            # tests need a writable catalog warehouse outside the repo)
            "spark.sql.warehouse.dir": "/tmp/spark-graft-test-warehouse",
        },
    )
    tune_for_local_tests(spark)
    yield spark


@pytest.fixture
def warehouse(spark, tmp_path):
    wh = TransactionalWarehouse(spark, str(tmp_path / "warehouse"))
    wh.create_all()
    return wh


def make_patient(**overrides) -> dict:
    """Mirror of the reference test factory (tests/test_pipeline.py:6-14)."""
    record = {
        "resourceType": "Patient",
        "mrn": "MRN-001",
        "name": "Jane Doe",
        "birthDate": "1980-04-12",
        "gender": "female",
        "ssn": "123-45-6789",
        "consent": {"data_sharing": True, "research": False},
    }
    record.update(overrides)
    return record
