"""Read-path operator tests: lookup, semi-join gate, pagination, nesting."""

from pyspark.sql import functions as F

from healthcare_etl_pipeline_spark.operators.reads import (
    consented_listing,
    keyset_page,
    nested_patient_shape,
    paginate,
    point_lookup,
)


def _patients(spark):
    rows = [
        (f"id-{i}", f"MRN-{i:03d}", "female" if i % 2 else "male")
        for i in range(10)
    ]
    return spark.createDataFrame(rows, ["id", "mrn", "gender"]).withColumn(
        "created_at", F.current_timestamp()
    )


def _consents(spark):
    # even ids granted data_sharing, id-1 denied, others no row at all
    rows = [(f"id-{i}", "data_sharing", i % 2 == 0) for i in range(6)]
    return spark.createDataFrame(rows, ["patient_id", "consent_type", "granted"])


def test_point_lookup(spark):
    df = _patients(spark)
    assert point_lookup(df, "id", "id-3").collect()[0].mrn == "MRN-003"
    assert point_lookup(df, "id", "missing").count() == 0


def test_consented_listing_semi_join_no_duplicates(spark):
    patients, consents = _patients(spark), _consents(spark)
    # duplicate consent rows must NOT duplicate patients (semi-join semantics)
    doubled = consents.union(consents)
    out = consented_listing(patients, doubled)
    got = sorted(r.id for r in out.collect())
    assert got == ["id-0", "id-2", "id-4"]
    assert out.columns == ["id", "mrn", "gender", "created_at", "has_data_sharing_consent"]


def test_pagination_deterministic(spark):
    df = _patients(spark)
    page1 = [r.mrn for r in paginate(df, ["mrn"], offset=0, limit=3).collect()]
    page2 = [r.mrn for r in paginate(df, ["mrn"], offset=3, limit=3).collect()]
    assert page1 == ["MRN-000", "MRN-001", "MRN-002"]
    assert page2 == ["MRN-003", "MRN-004", "MRN-005"]


def test_pagination_clamps_limit(spark):
    df = _patients(spark)
    assert paginate(df, ["mrn"], offset=0, limit=10_000).count() == 10


def test_keyset_page(spark):
    df = _patients(spark)
    first = keyset_page(df, "mrn", limit=4).collect()
    assert [r.mrn for r in first] == ["MRN-000", "MRN-001", "MRN-002", "MRN-003"]
    nxt = keyset_page(df, "mrn", after_key="MRN-003", limit=4).collect()
    assert [r.mrn for r in nxt] == ["MRN-004", "MRN-005", "MRN-006", "MRN-007"]


def test_nested_patient_shape(spark):
    patients, consents = _patients(spark), _consents(spark)
    out = nested_patient_shape(
        patients, consents.withColumn("granted_at", F.current_timestamp())
    )
    by_id = {r.id: r for r in out.collect()}
    assert by_id["id-0"].consents[0].consent_type == "data_sharing"
    assert by_id["id-9"].consents is None  # no consent rows at all
