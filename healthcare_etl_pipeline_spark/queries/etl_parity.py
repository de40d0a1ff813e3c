"""Reference-parity queries: every SURVEY.md §2 operator family exercised on
the testdata tables with a DuckDB oracle.

The patient-domain operators (validation split P1, consent gate P2, encrypt
transform P4/U1-U2, PHI strip P3) run on patient records SYNTHESIZED
deterministically from the ``customer`` table — same synthesis expressed in
Spark SQL and DuckDB SQL, so the oracle checks the full 5-stage pipeline
end-to-end, including an encrypt→decrypt roundtrip (ciphertext itself is
non-deterministic, so correctness is asserted on the roundtrip, exactly like
the reference's own test — reference tests/test_encryption.py:6-12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_pipeline_spark.functions.encryption import make_decrypt_udf
from healthcare_etl_pipeline_spark.operators.consent import consent_gate
from healthcare_etl_pipeline_spark.operators.reads import paginate
from healthcare_etl_pipeline_spark.operators.transform import transform_patients
from healthcare_etl_pipeline_spark.operators.validation import (
    PATIENT_RULES,
    validate_split,
)
from healthcare_etl_pipeline_spark.queries.helpers import t, td, scratch_dir
from healthcare_etl_pipeline_spark.queries.registry import query

# ---------------------------------------------------------------------------
# Deterministic patient-record synthesis from `customer` (same in both engines)
# ---------------------------------------------------------------------------

_SYNTH_SPARK = [
    "c_custkey",
    "CASE WHEN c_custkey % 97 = 0 THEN 'Observation' ELSE 'Patient' END AS resourceType",
    "CASE WHEN c_custkey % 89 = 0 THEN NULL ELSE 'MRN' || CAST(c_custkey AS STRING) END AS mrn",
    "c_name AS name",
    "CASE WHEN c_custkey % 83 = 0 THEN '1990/01/01' "
    "ELSE date_format(date_add(DATE '1950-01-01', CAST(c_custkey % 18000 AS INT)), 'yyyy-MM-dd') END AS birthDate",
    "element_at(array('male','female','other','unknown','INVALID'), CAST(c_custkey % 5 AS INT) + 1) AS gender",
    "CASE WHEN c_custkey % 7 = 0 THEN NULL "
    "WHEN c_custkey % 101 = 0 THEN 'BAD-SSN' "
    "ELSE format_string('%03d-%02d-%04d', CAST(c_custkey % 1000 AS INT), CAST(c_custkey % 100 AS INT), CAST(c_custkey % 10000 AS INT)) END AS ssn",
    "CASE WHEN c_custkey % 11 = 0 THEN NULL "
    "ELSE map('data_sharing', c_acctbal > 0, 'research', c_mktsegment = 'BUILDING') END AS consent",
]

_SYNTH_CTE = """
WITH synth AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 97 = 0 THEN 'Observation' ELSE 'Patient' END AS resourceType,
         CASE WHEN c_custkey % 89 = 0 THEN NULL ELSE 'MRN' || CAST(c_custkey AS VARCHAR) END AS mrn,
         c_name AS name,
         CASE WHEN c_custkey % 83 = 0 THEN '1990/01/01'
              ELSE strftime(DATE '1950-01-01' + CAST(c_custkey % 18000 AS INTEGER) * INTERVAL 1 DAY, '%Y-%m-%d') END AS birthDate,
         (['male','female','other','unknown','INVALID'])[CAST(c_custkey % 5 AS INTEGER) + 1] AS gender,
         CASE WHEN c_custkey % 7 = 0 THEN NULL
              WHEN c_custkey % 101 = 0 THEN 'BAD-SSN'
              ELSE printf('%03d-%02d-%04d', CAST(c_custkey % 1000 AS INTEGER), CAST(c_custkey % 100 AS INTEGER), CAST(c_custkey % 10000 AS INTEGER)) END AS ssn,
         CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal > 0 END AS data_sharing
  FROM customer
)
"""

# Rows passing every PATIENT_RULES check (rule order matters for messages only).
_DUCK_IS_VALID = """
      resourceType = 'Patient'
      AND mrn IS NOT NULL AND mrn <> ''
      AND name IS NOT NULL AND name <> ''
      AND (birthDate IS NULL OR regexp_matches(birthDate, '^\\d{4}-\\d{2}-\\d{2}$'))
      AND (gender IS NULL OR gender IN ('male','female','other','unknown'))
      AND (ssn IS NULL OR regexp_matches(ssn, '^\\d{3}-\\d{2}-\\d{4}$'))
"""

# Violation slots in PATIENT_RULES order, with the exact compiled messages.
_DUCK_ERRORS_CTE = """
, errs AS (
  SELECT *, list_filter([
      CASE WHEN resourceType IS NULL THEN '''resourceType'' is a required property' END,
      CASE WHEN resourceType IS NOT NULL AND resourceType <> 'Patient' THEN '''resourceType'' must be ''Patient''' END,
      CASE WHEN mrn IS NULL OR mrn = '' THEN '''mrn'' is a required property' END,
      CASE WHEN name IS NULL OR name = '' THEN '''name'' is a required property' END,
      CASE WHEN birthDate IS NOT NULL AND NOT regexp_matches(birthDate, '^\\d{4}-\\d{2}-\\d{2}$') THEN '''birthDate'' does not match ''^\\d{4}-\\d{2}-\\d{2}$''' END,
      CASE WHEN gender IS NOT NULL AND gender NOT IN ('male','female','other','unknown') THEN '''gender'' is not one of [''male'', ''female'', ''other'', ''unknown'']' END,
      CASE WHEN ssn IS NOT NULL AND NOT regexp_matches(ssn, '^\\d{3}-\\d{2}-\\d{4}$') THEN '''ssn'' does not match ''^\\d{3}-\\d{2}-\\d{4}$''' END
    ], x -> x IS NOT NULL) AS errors
  FROM synth
)
"""


def _synth_patients(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the encrypt/decrypt pandas UDFs downstream must not run on a
    # single input split (small single-file scans arrive as one partition).
    # Full-parallelism fan: a round-9 cap of 8 assumed ~6% of rows reach
    # the crypto stage, but that fraction is a function of the synth-fault
    # moduli over the key space — at the 10x rung 63% of 1.5M rows carry
    # Fernet work, and the cap held the whole validate+crypto pipeline at
    # 8 tasks on 32 cores (measured: 9.9 s capped vs 5.8 s full; sf0.1 is
    # a tie, 0.96 vs 1.00 s). The gate in spread() still makes this a
    # no-op wherever the scan already has >= cores splits.
    return td(spark, sf_dir, "customer").selectExpr(*_SYNTH_SPARK)


@query(
    "patients_ingest_valid",
    oracle=_SYNTH_CTE
    + "SELECT mrn, name AS name_rt, birthDate AS dob_rt, ssn AS ssn_rt,\n"
    + "       gender, 'Patient' AS resource_type\n"
    + "FROM synth\nWHERE "
    + _DUCK_IS_VALID
    + " AND data_sharing IS TRUE",
    description="Full 5-stage pipeline: validate → consent → encrypt transform "
    "→ decrypt roundtrip (P1,P2,P3,P4,U1,U2 end-to-end).",
    tags=("pipeline", "etl", "udf"),
)
def patients_ingest_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _synth_patients(spark, sf_dir)
    valid, _ = validate_split(raw, PATIENT_RULES)
    consented, _ = consent_gate(valid, consent_col=F.col("consent")["data_sharing"])
    transformed = transform_patients(consented)
    dec = make_decrypt_udf()
    return transformed.select(
        "mrn",
        dec(F.col("encrypted_name")).alias("name_rt"),
        dec(F.col("encrypted_dob")).alias("dob_rt"),
        dec(F.col("encrypted_ssn")).alias("ssn_rt"),
        "gender",
        "resource_type",
    )


@query(
    "patients_ingest_invalid",
    oracle=_SYNTH_CTE
    + _DUCK_ERRORS_CTE
    + "SELECT c_custkey, array_to_string(errors, '; ') AS errors_str,\n"
    + "       CAST(len(errors) AS BIGINT) AS n_errors\n"
    + "FROM errs WHERE len(errors) > 0",
    description="Validation split invalid side: ALL violations collected per "
    "record in rule order (P1/U3, reference validation.py:14-20).",
    tags=("validation", "etl"),
)
def patients_ingest_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _synth_patients(spark, sf_dir)
    _, invalid = validate_split(raw, PATIENT_RULES)
    return invalid.select(
        "c_custkey",
        F.array_join("errors", "; ").alias("errors_str"),
        F.size("errors").cast("long").alias("n_errors"),
    )


@query(
    "patients_ingest_blocked",
    oracle=_SYNTH_CTE
    + "SELECT mrn, 'no data_sharing consent' AS reason\nFROM synth\nWHERE "
    + _DUCK_IS_VALID
    + " AND data_sharing IS NOT TRUE",
    description="Consent gate blocked side-output with reason (P2, strict "
    "`is True` semantics: null/missing/false all block).",
    tags=("consent", "etl"),
)
def patients_ingest_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _synth_patients(spark, sf_dir)
    valid, _ = validate_split(raw, PATIENT_RULES)
    _, blocked = consent_gate(valid, consent_col=F.col("consent")["data_sharing"])
    return blocked


# ---------------------------------------------------------------------------
# Deterministic FHIR Observation synthesis (reference app/schemas/fhir.py:61-100)
# Records are built as JSON payloads (faults seeded on c_custkey moduli), parsed
# back through the typed OBSERVATION_DDL boundary, then rule-validated —
# exercising nested struct required, per-array-item required, and closed-world.
# ---------------------------------------------------------------------------

_OBS_ITEM1 = (
    "named_struct("
    "'system', CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE 'http://loinc.org' END, "
    "'code', CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE 'C' || CAST(c_custkey AS STRING) END, "
    "'display', 'obs')"
)
_OBS_ITEM2 = (
    "named_struct("
    "'system', 'http://snomed.info/sct', "
    "'code', CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE 'S' || CAST(c_custkey AS STRING) END, "
    "'display', CAST(NULL AS STRING))"
)

_OBS_PAYLOAD = (
    "to_json(named_struct("
    "'resourceType', CASE WHEN c_custkey % 101 = 0 THEN NULL "
    "                     WHEN c_custkey % 97 = 0 THEN 'Patient' "
    "                     ELSE 'Observation' END, "
    "'status', CASE WHEN c_custkey % 89 = 0 THEN NULL "
    "               ELSE element_at(array('final','amended','preliminary','registered','BOGUS'), "
    "                               CAST(c_custkey % 5 AS INT) + 1) END, "
    "'code', CASE WHEN c_custkey % 83 = 0 THEN NULL "
    f"            ELSE named_struct('coding', CASE WHEN c_custkey % 79 = 0 THEN NULL "
    f"                 WHEN c_custkey % 13 = 0 THEN array({_OBS_ITEM1}, {_OBS_ITEM2}) "
    f"                 ELSE array({_OBS_ITEM1}) END) END, "
    "'valueQuantity', CASE WHEN c_custkey % 3 = 0 THEN NULL "
    "                 ELSE named_struct('value', CAST(c_custkey % 500 AS DOUBLE) / 10.0, 'unit', 'mg') END, "
    "'extraProp', CASE WHEN c_custkey % 19 = 0 THEN 'surprise' ELSE NULL END"
    ")) AS payload"
)


@query(
    "observations_ingest_invalid",
    oracle="""
    WITH errs AS (
      SELECT c_custkey, list_filter([
        CASE WHEN c_custkey % 101 = 0 THEN '''resourceType'' is a required property' END,
        CASE WHEN c_custkey % 101 <> 0 AND c_custkey % 97 = 0 THEN '''resourceType'' must be ''Observation''' END,
        CASE WHEN c_custkey % 89 = 0 THEN '''status'' is a required property' END,
        CASE WHEN c_custkey % 89 <> 0 AND c_custkey % 5 = 4 THEN '''status'' is not one of [''registered'', ''preliminary'', ''final'', ''amended'']' END,
        CASE WHEN c_custkey % 83 = 0 THEN '''code'' is a required property' END,
        CASE WHEN c_custkey % 83 <> 0 AND c_custkey % 79 = 0 THEN '''coding'' is a required property' END,
        CASE WHEN c_custkey % 83 <> 0 AND c_custkey % 79 <> 0 AND c_custkey % 7 = 0 THEN '''system'' is a required property' END,
        CASE WHEN c_custkey % 83 <> 0 AND c_custkey % 79 <> 0 AND c_custkey % 11 = 0 THEN '''code'' is a required property' END,
        CASE WHEN c_custkey % 83 <> 0 AND c_custkey % 79 <> 0 AND c_custkey % 11 = 0 AND c_custkey % 13 = 0 THEN '''code'' is a required property' END,
        CASE WHEN c_custkey % 19 = 0 THEN 'Additional properties are not allowed' END
      ], x -> x IS NOT NULL) AS errors
      FROM customer
    )
    SELECT c_custkey, array_to_string(errors, '; ') AS errors_str,
           CAST(len(errors) AS BIGINT) AS n_errors
    FROM errs WHERE len(errors) > 0
    """,
    description="FHIR Observation validation (reference app/schemas/fhir.py:"
    "61-100): JSON payloads parsed through the typed nested schema, then the "
    "compiled nested rules — const resourceType, status enum, required "
    "code/coding, per-coding-item required system+code (one error PER "
    "violating item), closed-world top level. Collect-ALL-errors contract.",
    tags=("validation", "nested", "etl"),
)
def observations_ingest_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.validation import (
        OBSERVATION_DDL,
        OBSERVATION_RULES,
    )

    raw = td(spark, sf_dir, "customer").selectExpr("c_custkey", _OBS_PAYLOAD)
    flat = raw.select(
        "c_custkey", "payload", F.from_json("payload", OBSERVATION_DDL).alias("obs")
    ).select("c_custkey", "payload", "obs.*")
    _, invalid = validate_split(flat, OBSERVATION_RULES)
    return invalid.select(
        "c_custkey",
        F.array_join("errors", "; ").alias("errors_str"),
        F.size("errors").cast("long").alias("n_errors"),
    )


@query(
    "explode_consent_map",
    oracle="""
    SELECT o_orderkey, 'premium' AS consent_type, o_totalprice > 100000 AS granted,
           CASE WHEN o_totalprice > 100000 THEN o_orderdate END AS granted_at
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'priority', o_orderpriority LIKE '1-%',
           CASE WHEN o_orderpriority LIKE '1-%' THEN o_orderdate END
    FROM orders
    """,
    description="Map-explode unnest (S4): one row per consent entry with "
    "conditional grant timestamp (reference routes.py:106-115).",
    tags=("explode", "etl"),
)
def explode_consent_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    with_map = orders.select(
        "o_orderkey",
        "o_orderdate",
        F.create_map(
            F.lit("premium"),
            F.col("o_totalprice") > 100000,
            F.lit("priority"),
            F.col("o_orderpriority").startswith("1-"),
        ).alias("consent"),
    )
    return with_map.select(
        "o_orderkey",
        F.explode("consent").alias("consent_type", "granted"),
        "o_orderdate",
    ).select(
        "o_orderkey",
        "consent_type",
        "granted",
        F.when(F.col("granted"), F.col("o_orderdate")).alias("granted_at"),
    )


@query(
    "consented_listing_page",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, TRUE AS has_consent
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    ORDER BY c_name, c_custkey
    LIMIT 50 OFFSET 100
    """,
    description="Consent-gated listing analogue: semi-join gate + PHI-free "
    "projection + deterministic pagination (J1-as-semi-join, P8, A3).",
    tags=("join", "pagination", "etl"),
)
def consented_listing_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    gated = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment", F.lit(True).alias("has_consent"))
    return paginate(gated, ["c_name", "c_custkey"], offset=100, limit=50)


@query(
    "consented_listing_keyset",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, TRUE AS has_consent
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      AND (c_name > 'Customer#000000100'
           OR (c_name = 'Customer#000000100' AND c_custkey > 100))
    ORDER BY c_name, c_custkey
    LIMIT 50
    """,
    description="Flagship listing, KEYSET pagination (the at-scale default "
    "of consented_listing): composite (name, key) row-comparison predicate "
    "pushed to the scan + TakeOrderedAndProject top-n — page N+1 costs "
    "page 1, no global rank. The OFFSET form (consented_listing_page) "
    "remains for explicit offset requests.",
    tags=("join", "pagination", "etl"),
)
def consented_listing_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.reads import keyset_page_multi

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    gated = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment", F.lit(True).alias("has_consent"))
    return keyset_page_multi(
        gated,
        ["c_name", "c_custkey"],
        after=("Customer#000000100", 100),
        limit=50,
    )


@query(
    "point_lookup_customer",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 42",
    description="PK point lookup (P5): predicate pushes to parquet scan.",
    tags=("filter", "etl"),
)
def point_lookup_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    return (
        cust.filter(F.col("c_custkey") == 42)
        .select("c_custkey", "c_name", "c_mktsegment")
        .limit(1)
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    description="Anti-join conflict detection (J4): NOT EXISTS as left_anti "
    "(customers with no pending order).",
    tags=("join", "etl"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "nested_customer_orders",
    oracle="""
    SELECT c.c_custkey,
           string_agg(CAST(o.o_orderkey AS VARCHAR), ',' ORDER BY o.o_orderkey) AS orderkeys_csv,
           count(*) AS n_orders
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    description="Nested child shape (J3): collect_list replaces the "
    "reference's selectin prefetch (patient.py:49-50).",
    tags=("agg", "nested", "etl"),
)
def nested_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.array_join(F.sort_array(F.collect_list("o_orderkey")), ",").alias(
                "orderkeys_csv"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "bool_fold_customer_orders",
    oracle="""
    SELECT o_custkey,
           bool_or(o_orderstatus = 'F')    AS any_finished,
           bool_and(o_totalprice > 10000)  AS all_large
    FROM orders GROUP BY o_custkey
    """,
    description="Boolean folds (A4): any()/all() as bool_or/bool_and "
    "aggregates (reference routes.py:181-183, dag.py:151-152).",
    tags=("agg", "etl"),
)
def bool_fold_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_totalprice") > 10000).alias("all_large"),
    )


@query(
    "consent_gate_events",
    oracle="""
    SELECT event_id, 'k below threshold' AS reason
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50 IS NOT TRUE
    """,
    description="Generic reasoned gate (P2 pattern) over a JSON predicate: "
    "blocked side-output with reason.",
    tags=("consent", "json", "etl"),
)
def consent_gate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events")
    pred = F.get_json_object("props", "$.k").cast("long") >= 50
    _, blocked = consent_gate(events, pred, ("event_id",), "k below threshold")
    return blocked


@query(
    "enc_roundtrip_customers",
    oracle="SELECT c_custkey, c_name AS name_rt FROM customer",
    description="Fernet encrypt→decrypt roundtrip (U1/U2) as Arrow-batched "
    "pandas UDFs; non-deterministic ciphertext, deterministic roundtrip.",
    tags=("udf", "etl"),
)
def enc_roundtrip_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.functions.encryption import (
        make_decrypt_udf,
        make_encrypt_udf,
    )

    # spread: EVERY row goes through encrypt+decrypt here (unlike the
    # ingest pipeline's ~6%-survivor crypto stage), so the full fan is
    # worth it — the round-9 sf10 sweep measured this query at 59.7 s
    # because the 25 MB single-file scan arrived as ONE split and the
    # Fernet UDFs serialized on one core.
    cust = td(spark, sf_dir, "customer")
    enc = make_encrypt_udf()
    dec = make_decrypt_udf()
    return cust.select("c_custkey", dec(enc(F.col("c_name"))).alias("name_rt"))


@query(
    "txn_committed_read",
    oracle=_SYNTH_CTE
    + "SELECT mrn, name AS name_rt, gender\nFROM synth\nWHERE "
    + _DUCK_IS_VALID
    + " AND data_sharing IS TRUE AND c_custkey % 2 = 0",
    description="Transactional multi-table ingest (reference routes.py:148 "
    "single-commit parity): two batches run through the full atomic "
    "protocol — the even-custkey batch stages patients+consents+clinical+"
    "audit under one run_id and COMMITS (one atomic marker rename), the "
    "odd-custkey batch stages fully and then 'crashes' before its commit. "
    "The committed-snapshot reader (run_id partition-pruning isin filter) "
    "must return exactly the committed batch — the crashed batch's bytes "
    "are on disk but invisible. Decrypt-roundtrip oracle on the survivors.",
    tags=("txn", "pipeline", "etl"),
)
def txn_committed_read(spark: SparkSession, sf_dir: str) -> DataFrame:

    from healthcare_etl_pipeline_spark.operators.ingest import load_patients
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_wh", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.create_all()

    raw = _synth_patients(spark, sf_dir)
    valid, _ = validate_split(raw, PATIENT_RULES)
    consented, _ = consent_gate(valid, consent_col=F.col("consent")["data_sharing"])

    committed_txn = wh.begin("even-batch")
    load_patients(
        wh,
        transform_patients(consented.filter(F.col("c_custkey") % 2 == 0)),
        txn=committed_txn,
    )
    committed_txn.commit()

    crashed_txn = wh.begin("odd-batch")
    load_patients(
        wh,
        transform_patients(consented.filter(F.col("c_custkey") % 2 == 1)),
        txn=crashed_txn,
    )
    # no commit: simulated crash after all 4 tables are fully staged

    dec = make_decrypt_udf()
    return wh.read("patients").select(
        "mrn", dec(F.col("encrypted_name")).alias("name_rt"), "gender"
    )


@query(
    "txn_time_travel_read",
    oracle=_SYNTH_CTE
    + "SELECT 's1' AS snapshot, mrn, gender\nFROM synth\nWHERE "
    + _DUCK_IS_VALID
    + " AND data_sharing IS TRUE AND c_custkey % 2 = 0\n"
    + "UNION ALL\n"
    + "SELECT 'current' AS snapshot, mrn, gender\nFROM synth\nWHERE "
    + _DUCK_IS_VALID
    + " AND data_sharing IS TRUE",
    description="Snapshot time travel over the transactional warehouse: two "
    "committed ingest batches (even then odd custkeys) followed by a "
    "compaction commit that supersedes both. Reading as_of the FIRST "
    "commit's snapshot must return exactly the even batch — excluding the "
    "later commit AND ignoring the later compaction's replaces — while the "
    "current read serves only the compacted run. Both reads are emitted "
    "and value-checked against the deterministic synthesis.",
    tags=("txn", "time-travel", "etl"),
)
def txn_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:

    from healthcare_etl_pipeline_spark.operators.ingest import load_patients
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_tt", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.create_all()

    raw = _synth_patients(spark, sf_dir)
    valid, _ = validate_split(raw, PATIENT_RULES)
    consented, _ = consent_gate(valid, consent_col=F.col("consent")["data_sharing"])

    for label, parity in (("tt-even", 0), ("tt-odd", 1)):
        txn = wh.begin(label)
        load_patients(
            wh,
            transform_patients(consented.filter(F.col("c_custkey") % 2 == parity)),
            txn=txn,
        )
        txn.commit()
    wh.compact("patients")

    s1 = next(s["seq"] for s in wh.snapshots() if s["run_id"] == "tt-even")
    old = wh.read("patients", as_of=s1).select(
        F.lit("s1").alias("snapshot"), "mrn", "gender"
    )
    cur = wh.read("patients").select(
        F.lit("current").alias("snapshot"), "mrn", "gender"
    )
    return old.unionByName(cur)


@query(
    "txn_schema_evolution_read",
    oracle="""
    SELECT 's1' AS snapshot, c_custkey AS custkey, c_name AS name,
           CAST(NULL AS DOUBLE) AS acctbal
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT 'current' AS snapshot, c_custkey AS custkey, c_name AS name,
           CASE WHEN c_custkey % 2 = 1 THEN round(c_acctbal, 2) END AS acctbal
    FROM customer
    """,
    description="Additive schema evolution across transactional snapshots: "
    "batch 1 commits under the v1 schema (custkey, name); the table is then "
    "re-registered with a nullable acctbal column and batch 2 commits under "
    "v2. The current read reconciles BOTH committed snapshots under the v2 "
    "schema — v1 rows null-fill acctbal at the parquet projection, no "
    "rewrite of old runs — and time travel as_of the v1 commit also reads "
    "through the evolved schema (Iceberg's read-side evolution rule). Any "
    "dropped/doubled row or a mis-filled column flips the hash.",
    tags=("txn", "schema-evolution", "etl"),
)
def txn_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_evo", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    v1 = T.StructType(
        [
            T.StructField("custkey", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    wh.register_table("cust_log", v1)
    wh.create_all()

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
    )
    txn = wh.begin("evo-v1")
    txn.stage(cust.filter(F.col("custkey") % 2 == 0).drop("acctbal"), "cust_log")
    txn.commit()

    v2 = T.StructType(
        v1.fields + [T.StructField("acctbal", T.DoubleType(), True)]
    )
    wh.register_table("cust_log", v2)
    txn = wh.begin("evo-v2")
    txn.stage(cust.filter(F.col("custkey") % 2 == 1), "cust_log")
    txn.commit()

    s1 = next(s["seq"] for s in wh.snapshots() if s["run_id"] == "evo-v1")
    old = wh.read("cust_log", as_of=s1).select(
        F.lit("s1").alias("snapshot"), "custkey", "name", "acctbal"
    )
    cur = wh.read("cust_log").select(
        F.lit("current").alias("snapshot"), "custkey", "name", "acctbal"
    )
    return old.unionByName(cur)


@query(
    "txn_merge_upsert",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name,
           CASE WHEN c_custkey % 3 = 0 THEN 'base' ELSE 'merged' END AS src
    FROM customer
    """,
    description="Copy-on-write MERGE (upsert) on the transactional "
    "warehouse: the base state lands as TWO separate commits (custkey%3=0 "
    "and %3=1); a merge keyed on custkey then updates every %3=1 row and "
    "inserts the %3=2 rows in ONE atomic commit. Run-granularity pruning "
    "is asserted in-query: only the run containing matched keys is "
    "rewritten — the %3=0 run keeps its files (rewriting it would be the "
    "full-table-rewrite anti-pattern at 100 TB). The final read must show "
    "update+insert+untouched rows exactly once each.",
    tags=("txn", "merge", "upsert", "etl"),
)
def txn_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_merge", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "cust_state",
        T.StructType(
            [
                T.StructField("custkey", T.LongType(), False),
                T.StructField("name", T.StringType(), True),
                T.StructField("src", T.StringType(), True),
            ]
        ),
    )
    wh.create_all()

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )
    for label, parity in (("base-0", 0), ("base-1", 1)):
        txn = wh.begin(label)
        txn.stage(
            cust.filter(F.col("custkey") % 3 == parity).withColumn(
                "src", F.lit("base")
            ),
            "cust_state",
        )
        txn.commit()

    res = wh.merge(
        cust.filter(F.col("custkey") % 3 != 0).withColumn("src", F.lit("merged")),
        "cust_state",
        ["custkey"],
    )
    assert res["rewritten_runs"] == ["base-1"], res
    assert res["untouched_runs"] == ["base-0"], res
    return wh.read("cust_state")


@query(
    "txn_delete_mor_read",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name,
           CASE WHEN c_custkey % 100 = 3 THEN 'revived' ELSE 'base' END AS src
    FROM customer
    WHERE c_custkey % 10 <> 3 OR c_custkey % 100 = 3
    """,
    description="Merge-on-read delete: every custkey%10=3 row is deleted "
    "by a TOMBSTONE COMMIT (key list only — the data runs are untouched, "
    "asserted in-query; contrast the copy-on-write forget/overwrite "
    "forms, which rewrite files), readers anti-join the tombstones, and "
    "a later append re-inserting the %100=3 subset must be VISIBLE — "
    "tombstone application is sequence-aware, hiding only rows committed "
    "at-or-before the delete. One resurrected or still-hidden row flips "
    "the hash.",
    tags=("txn", "delete", "merge-on-read", "etl"),
)
def txn_delete_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_mor", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "cust_state",
        T.StructType(
            [
                T.StructField("custkey", T.LongType(), False),
                T.StructField("name", T.StringType(), True),
                T.StructField("src", T.StringType(), True),
            ]
        ),
        primary_key=("custkey",),
    )
    wh.create_all()

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )
    wh.append(cust.withColumn("src", F.lit("base")), "cust_state")
    data_runs = wh.committed_runs_for("cust_state")

    n = wh.delete_where("cust_state", F.col("custkey") % 10 == 3)
    assert n > 0
    # merge-on-read: the delete rewrote NO data runs
    assert wh.committed_runs_for("cust_state") == data_runs

    wh.append(
        cust.filter(F.col("custkey") % 100 == 3).withColumn(
            "src", F.lit("revived")
        ),
        "cust_state",
    )
    return wh.read("cust_state")


@query(
    "txn_overwrite_backfill",
    oracle="""
    SELECT o_orderkey AS orderkey,
           round(o_totalprice, 2) AS totalprice,
           CASE WHEN month(o_orderdate) = 3 THEN 'backfill' ELSE 'base' END AS src
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    """,
    description="Predicate-scoped overwrite (replaceWhere) as an "
    "idempotent backfill: 1995 orders land as two commits (first half / "
    "second half of the year); overwrite_where(month=3) atomically "
    "deletes-and-reinserts exactly March in one commit. Run-granularity "
    "pruning asserted in-query — only the H1 run is rewritten, the H2 "
    "run keeps its files. The final read must show the backfilled March "
    "rows exactly once alongside untouched months.",
    tags=("txn", "overwrite", "backfill", "etl"),
)
def txn_overwrite_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_bf", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "ord_state",
        T.StructType(
            [
                T.StructField("orderkey", T.LongType(), False),
                T.StructField("month", T.IntegerType(), True),
                T.StructField("totalprice", T.DoubleType(), True),
                T.StructField("src", T.StringType(), True),
            ]
        ),
    )
    wh.create_all()

    ord95 = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.month("o_orderdate").cast("int").alias("month"),
            F.round(F.col("o_totalprice").cast("double"), 2).alias("totalprice"),
        )
    )
    for label, lo, hi in (("h1", 1, 6), ("h2", 7, 12)):
        txn = wh.begin(label)
        txn.stage(
            ord95.filter(F.col("month").between(lo, hi)).withColumn(
                "src", F.lit("base")
            ),
            "ord_state",
        )
        txn.commit()

    res = wh.overwrite_where(
        ord95.filter(F.col("month") == 3).withColumn("src", F.lit("backfill")),
        "ord_state",
        F.col("month") == 3,
    )
    assert res["rewritten_runs"] == ["h1"], res
    assert res["untouched_runs"] == ["h2"], res
    return wh.read("ord_state").select("orderkey", "totalprice", "src")


@query(
    "txn_update_read",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CASE WHEN month(o_orderdate) = 3
                THEN round(o_totalprice, 2) + 1000.0
                ELSE round(o_totalprice, 2) END AS totalprice,
           CASE WHEN month(o_orderdate) = 3 THEN 'repriced' ELSE 'base' END AS src
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    """,
    description="Copy-on-write UPDATE ... SET (the last DML verb alongside "
    "append/MERGE/DELETE/replaceWhere): 1995 orders land as two commits "
    "(H1/H2); update_where(month=3) rewrites March rows in place — "
    "surcharged price, src='repriced' — in ONE atomic commit, with all "
    "assignment expressions reading the OLD row. Run-granularity pruning "
    "asserted in-query: only the H1 run (the only one holding March rows) "
    "is rewritten; H2 keeps its files — at 100 TB an update touching 1% "
    "of runs rewrites 1% of the table. Reference parity: the UPDATE the "
    "reference issues through its SQLAlchemy session (routes.py:148).",
    tags=("txn", "update", "etl"),
)
def txn_update_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_upd", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "ord_state",
        T.StructType(
            [
                T.StructField("orderkey", T.LongType(), False),
                T.StructField("month", T.IntegerType(), True),
                T.StructField("totalprice", T.DoubleType(), True),
                T.StructField("src", T.StringType(), True),
            ]
        ),
    )
    wh.create_all()

    ord95 = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.month("o_orderdate").cast("int").alias("month"),
            F.round(F.col("o_totalprice").cast("double"), 2).alias("totalprice"),
        )
    )
    for label, lo, hi in (("h1", 1, 6), ("h2", 7, 12)):
        txn = wh.begin(label)
        txn.stage(
            ord95.filter(F.col("month").between(lo, hi)).withColumn(
                "src", F.lit("base")
            ),
            "ord_state",
        )
        txn.commit()

    res = wh.update_where(
        "ord_state",
        F.col("month") == 3,
        {
            "totalprice": F.col("totalprice") + F.lit(1000.0),
            "src": F.lit("repriced"),
        },
    )
    assert res["rewritten_runs"] == ["h1"], res
    assert res["untouched_runs"] == ["h2"], res
    return wh.read("ord_state").select("orderkey", "totalprice", "src")


@query(
    "txn_stats_skipping_read",
    oracle="""
    SELECT month(o_orderdate) AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
      AND month(o_orderdate) BETWEEN 4 AND 6
    GROUP BY month(o_orderdate)
    """,
    description="File-level data skipping (zone-map pruning at the "
    "warehouse's file granularity): 1995 orders land as four quarterly "
    "commits, a min/max stats index is built over the month column, and "
    "the month-in-[4,6] read consults the index — the report must show "
    "FEWER files read than the table holds (asserted in-query: only the "
    "Q2 run's files can contain matches), with the exact predicate "
    "re-applied on top. The aggregate must equal the full-scan oracle: "
    "one wrongly skipped file loses rows and flips the hash.",
    tags=("txn", "stats", "data-skipping", "scale"),
)
def txn_stats_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_skip", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "ord_log",
        T.StructType(
            [
                T.StructField("orderkey", T.LongType(), False),
                T.StructField("month", T.IntegerType(), True),
                T.StructField("totalprice", T.DoubleType(), True),
            ]
        ),
    )
    wh.create_all()

    ord95 = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.month("o_orderdate").cast("int").alias("month"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
        )
    )
    for q, lo, hi in ((1, 1, 3), (2, 4, 6), (3, 7, 9), (4, 10, 12)):
        txn = wh.begin(f"q{q}")
        txn.stage(ord95.filter(F.col("month").between(lo, hi)), "ord_log")
        txn.commit()

    wh.build_stats_index("ord_log", ["month"])
    df, report = wh.read_skipping("ord_log", {"month": (4, 6)})
    assert report["files_read"] < report["files_total"], report
    assert report["runs_uncovered"] == [], report
    return (
        df.filter(F.col("month").between(4, 6))
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "txn_change_feed_read",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS custkey, round(c_acctbal, 2) AS val FROM customer)
    SELECT custkey, val, 'update_preimage' AS change_type
    FROM base WHERE custkey % 10 = 0 AND custkey % 7 <> 0
    UNION ALL SELECT custkey, val + 100.0, 'update_postimage'
    FROM base WHERE custkey % 10 = 0 AND custkey % 7 <> 0
    UNION ALL SELECT custkey, val, 'delete'
    FROM base WHERE custkey % 7 = 0 AND custkey % 2 = 0
    UNION ALL SELECT custkey, val, 'update_preimage'
    FROM base WHERE custkey % 7 = 0 AND custkey % 2 = 1
    UNION ALL SELECT custkey, 999999.0, 'update_postimage'
    FROM base WHERE custkey % 7 = 0 AND custkey % 2 = 1
    UNION ALL SELECT custkey + 5000000, 7.0, 'insert'
    FROM base WHERE custkey % 13 = 0
    """,
    description="NET change-data feed (Delta CDF's net form): from a "
    "base snapshot of all customers, the window applies an UPDATE "
    "(custkey%10=0 surcharged), a merge-on-read DELETE (custkey%7=0), a "
    "re-insert of the odd deleted keys (net = update pair, not "
    "delete+insert), and an append of brand-new keys. read_change_feed "
    "diffs the two snapshots through PRUNED scans (only runs retired/"
    "added in the window plus tombstoned keys) and classifies each key "
    "as insert / delete / update_preimage+postimage — the consumer for "
    "windows the appends-only read_changes rejects. The preimage of an "
    "update-then-delete is the WINDOW-START value; a row rewritten "
    "unchanged never appears. One misclassified key flips the hash.",
    tags=("txn", "cdf", "cdc", "change-feed", "etl"),
)
def txn_change_feed_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_cdf", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "cust_state",
        T.StructType(
            [
                T.StructField("custkey", T.LongType(), False),
                T.StructField("val", T.DoubleType(), True),
            ]
        ),
        primary_key=("custkey",),
    )
    wh.create_all()

    base = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.round(F.col("c_acctbal").cast("double"), 2).alias("val"),
    )
    wh.append(base, "cust_state")
    s1 = wh.snapshots()[-1]["seq"]

    wh.update_where(
        "cust_state", F.col("custkey") % 10 == 0, {"val": F.col("val") + 100.0}
    )
    wh.delete_where("cust_state", F.col("custkey") % 7 == 0)
    wh.append(
        base.filter((F.col("custkey") % 7 == 0) & (F.col("custkey") % 2 == 1))
        .withColumn("val", F.lit(999999.0)),
        "cust_state",
    )
    wh.append(
        base.filter(F.col("custkey") % 13 == 0).select(
            (F.col("custkey") + 5000000).alias("custkey"),
            F.lit(7.0).alias("val"),
        ),
        "cust_state",
    )
    return wh.read_change_feed("cust_state", since=s1).select(
        "custkey", "val", F.col("_change_type").alias("change_type")
    )


@query(
    "txn_lifecycle_read",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CASE WHEN month(o_orderdate) <= 6 AND o_orderkey % 10 = 0
                THEN round(o_totalprice, 2) + 1000.0
                ELSE round(o_totalprice, 2) END AS amount,
           CASE WHEN month(o_orderdate) <= 6 THEN 'h1' ELSE 'h2' END AS src
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
      AND NOT (month(o_orderdate) <= 6 AND o_orderkey % 10 = 7)
    """,
    description="Full table LIFECYCLE in one value-checked query: H1-1995 "
    "orders append under column 'price'; rename_column to 'amount' "
    "(metadata-only); UPDATE surcharges orderkey%10=0; merge-on-read "
    "DELETE tombstones orderkey%10=7; H2 appends under the new name "
    "(its %10=7 rows stay VISIBLE — tombstones are sequence-aware); "
    "set_partition_spec((src,)) evolves the layout; a final COMPACT "
    "migrates everything to one run under the current spec, applying "
    "tombstones physically and retiring them. The read after compaction "
    "must equal the composed oracle exactly, and a time-travel read to "
    "the pre-delete snapshot must still see the deleted rows (asserted "
    "in-query) — every metadata dimension and DML verb interacting in "
    "sequence, the way a real table lives.",
    tags=("txn", "lifecycle", "rename", "update", "delete", "compact", "etl"),
)
def txn_lifecycle_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_life", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "ord_state",
        T.StructType(
            [
                T.StructField("orderkey", T.LongType(), False),
                T.StructField("price", T.DoubleType(), True),
                T.StructField("src", T.StringType(), True),
            ]
        ),
        primary_key=("orderkey",),
    )
    wh.create_all()

    ord95 = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    )
    h1 = ord95.filter(F.month("o_orderdate") <= 6).select(
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.col("o_totalprice").cast("double"), 2).alias("price"),
        F.lit("h1").alias("src"),
    )
    wh.append(h1, "ord_state")

    wh.rename_column("ord_state", "price", "amount")
    wh.update_where(
        "ord_state",
        F.col("orderkey") % 10 == 0,
        {"amount": F.col("amount") + F.lit(1000.0)},
    )
    pre_delete = wh.snapshots()[-1]["seq"]
    n_del = wh.delete_where("ord_state", F.col("orderkey") % 10 == 7)
    assert n_del > 0

    h2 = ord95.filter(F.month("o_orderdate") > 6).select(
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.col("o_totalprice").cast("double"), 2).alias("amount"),
        F.lit("h2").alias("src"),
    )
    wh.append(h2, "ord_state")
    wh.set_partition_spec("ord_state", ("src",))
    wh.compact("ord_state")
    assert len(wh.committed_runs_for("ord_state")) == 1

    # time travel predates the delete: the tombstoned rows are still there
    n_now = wh.read("ord_state").count()
    n_then = wh.read("ord_state", as_of=pre_delete).count()
    assert n_then == n_now - h2.count() + n_del, (n_then, n_now, n_del)
    return wh.read("ord_state")


@query(
    "txn_merge_evolve_read",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name,
           CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment END AS segment
    FROM customer
    """,
    description="MERGE with schema AUTO-EVOLUTION (Delta mergeSchema for "
    "MERGE): the customer base commits under (custkey, name); a merge "
    "whose source carries an extra 'segment' column runs with "
    "auto_evolve — the column is ADDED as nullable via additive "
    "evolution in the same call, pre-merge rows read it as null, merged "
    "rows carry their value. One silently-dropped producer column or a "
    "non-null backfill flips the hash.",
    tags=("txn", "merge", "schema-evolution", "etl"),
)
def txn_merge_evolve_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_me", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "cust_state",
        T.StructType(
            [
                T.StructField("custkey", T.LongType(), False),
                T.StructField("name", T.StringType(), True),
            ]
        ),
    )
    wh.create_all()

    cust = t(spark, sf_dir, "customer")
    wh.append(
        cust.select(
            F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
        ),
        "cust_state",
    )
    res = wh.merge(
        cust.filter(F.col("c_custkey") % 3 == 0).select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
        ),
        "cust_state",
        ["custkey"],
        auto_evolve=True,
    )
    assert res["committed"], res
    assert wh.table_schema("cust_state").fieldNames() == [
        "custkey",
        "name",
        "segment",
    ]
    return wh.read("cust_state")


@query(
    "txn_rename_read",
    oracle="""
    SELECT o_orderkey AS orderkey,
           round(o_totalprice, 2) AS amount,
           CASE WHEN month(o_orderdate) <= 6 THEN 'pre' ELSE 'post' END AS src
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    """,
    description="Metadata-only column RENAME (Delta column mapping / "
    "Iceberg rename): H1-1995 orders commit under a column physically "
    "named 'price'; rename_column('price' -> 'amount') publishes ONE "
    "marker touching no data file (asserted in-query: the live run set "
    "is unchanged); H2 then commits under the new name. The read must "
    "remap the pre-rename files per schema epoch and union them with the "
    "post-rename files under the single logical name — one mis-mapped "
    "epoch nulls half the column and flips the hash.",
    tags=("txn", "rename", "schema-evolution", "etl"),
)
def txn_rename_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_ren", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "ord_state",
        T.StructType(
            [
                T.StructField("orderkey", T.LongType(), False),
                T.StructField("price", T.DoubleType(), True),
                T.StructField("src", T.StringType(), True),
            ]
        ),
    )
    wh.create_all()

    ord95 = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    )
    h1 = ord95.filter(F.month("o_orderdate") <= 6).select(
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.col("o_totalprice").cast("double"), 2).alias("price"),
        F.lit("pre").alias("src"),
    )
    wh.append(h1, "ord_state")
    live = wh.committed_runs_for("ord_state")

    wh.rename_column("ord_state", "price", "amount")
    # metadata-only: no data run touched, schema remapped
    assert wh.committed_runs_for("ord_state") == live
    assert wh.table_schema("ord_state").fieldNames() == [
        "orderkey",
        "amount",
        "src",
    ]

    h2 = ord95.filter(F.month("o_orderdate") > 6).select(
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.col("o_totalprice").cast("double"), 2).alias("amount"),
        F.lit("post").alias("src"),
    )
    wh.append(h2, "ord_state")
    return wh.read("ord_state")


@query(
    "txn_partition_evolution_read",
    oracle="""
    SELECT o_orderkey AS orderkey,
           month(o_orderdate) AS month,
           round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    """,
    description="Partition EVOLUTION (Iceberg evolve-spec): H1-1995 "
    "orders commit under a FLAT layout; set_partition_spec((month,)) "
    "publishes one metadata marker touching no data file (asserted "
    "in-query: live runs unchanged, old run has no month= dirs, new run "
    "does); H2 then commits hive-partitioned by month. The read must "
    "union both directory layouts under one logical table — per-epoch "
    "hive discovery, so a spec change never requires rewriting history. "
    "One lost partition value or mis-grouped epoch flips the hash.",
    tags=("txn", "partition-evolution", "schema-evolution", "etl"),
)
def txn_partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_pe", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "ord_state",
        T.StructType(
            [
                T.StructField("orderkey", T.LongType(), False),
                T.StructField("month", T.IntegerType(), True),
                T.StructField("totalprice", T.DoubleType(), True),
            ]
        ),
    )
    wh.create_all()

    ord95 = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.month("o_orderdate").cast("int").alias("month"),
            F.round(F.col("o_totalprice").cast("double"), 2).alias("totalprice"),
        )
    )
    wh.append(ord95.filter(F.col("month") <= 6), "ord_state")
    run1 = wh.committed_runs_for("ord_state")[0]

    wh.set_partition_spec("ord_state", ("month",))
    assert wh.committed_runs_for("ord_state") == [run1]  # metadata-only

    wh.append(ord95.filter(F.col("month") > 6), "ord_state")
    run2 = [r for r in wh.committed_runs_for("ord_state") if r != run1][0]
    assert not any(
        d.startswith("month=") for d in os.listdir(wh.run_dir("ord_state", run1))
    )
    assert any(
        d.startswith("month=") for d in os.listdir(wh.run_dir("ord_state", run2))
    )
    return wh.read("ord_state")


@query(
    "txn_bloom_skipping_read",
    oracle="""
    WITH june AS (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM orders
      WHERE o_orderdate >= DATE '1995-06-01' AND o_orderdate < DATE '1995-07-01')
    SELECT o.o_orderkey AS orderkey, round(o.o_totalprice, 2) AS totalprice
    FROM orders o JOIN june j ON o.o_orderkey = j.o_orderkey
    WHERE j.rn BETWEEN CAST(floor(j.n / 2) AS BIGINT)
                   AND CAST(floor(j.n / 2) AS BIGINT) + 2
    """,
    description="Bloom-indexed point lookups — pruning where zone maps "
    "CANNOT: 1995 orders land as four quarterly commits (several files "
    "each), so orderkeys are uniformly spread and every file's "
    "[min,max] covers nearly any key — a min/max stats read keeps "
    "almost everything. The stats index is built with a per-file BLOOM "
    "set on orderkey; three point lookups then open only the file(s) "
    "whose Bloom sets contain all k probe positions, asserted in-query "
    "to read strictly fewer files than the zone-map path and at most 2 "
    "files per key (1 true + Bloom false-positive budget). At 100 TB "
    "this is the difference between a key lookup scanning the table and "
    "touching one file. No false negatives: results must match the "
    "oracle's plain IN-subquery scan.",
    tags=("txn", "bloom", "data-skipping", "point-lookup", "scale"),
)
def txn_bloom_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_bloom", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "ord_log",
        T.StructType(
            [
                T.StructField("orderkey", T.LongType(), False),
                T.StructField("month", T.IntegerType(), True),
                T.StructField("totalprice", T.DoubleType(), True),
            ]
        ),
    )
    wh.create_all()

    ord95 = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.month("o_orderdate").cast("int").alias("month"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
        )
    )
    for q, lo, hi in ((1, 1, 3), (2, 4, 6), (3, 7, 9), (4, 10, 12)):
        txn = wh.begin(f"q{q}")
        txn.stage(
            ord95.filter(F.col("month").between(lo, hi)).repartition(3),
            "ord_log",
        )
        txn.commit()
    wh.build_stats_index("ord_log", ["orderkey"], bloom_cols=["orderkey"])

    # the three MEDIAN June orderkeys: interior keys sit inside every
    # file's [min,max] (zone maps can't prune them), which is exactly the
    # regime where the Bloom set earns its keep. Month-bounded frame, so
    # the rank window is small at any SF; 3 keys collect to the driver
    # (the point-lookup pattern).
    june = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-06-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1995-07-01").cast("date"))
        )
        .select(F.col("o_orderkey").alias("orderkey"))
    )
    from pyspark.sql import Window

    ranked = june.select(
        "orderkey",
        F.row_number().over(Window.orderBy("orderkey")).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    mid = F.floor(F.col("n") / 2)
    keys = sorted(
        r["orderkey"]
        for r in ranked.filter(
            F.col("rn").between(mid, mid + 2)
        ).collect()
    )
    out = None
    for key in keys:
        _, mm = wh.read_skipping("ord_log", {"orderkey": (key, key)})
        df, bl = wh.read_skipping(
            "ord_log", {"orderkey": (key, key)}, equals={"orderkey": key}
        )
        # bloom prunes past the zone maps, and to ~one file
        assert bl["files_read"] < mm["files_read"], (key, mm, bl)
        assert 1 <= bl["files_read"] <= 2, (key, bl)
        hit = df.filter(F.col("orderkey") == key).select(
            "orderkey", F.round("totalprice", 2).alias("totalprice")
        )
        out = hit if out is None else out.unionByName(hit)
    return out


@query(
    "txn_optimize_skipping_read",
    oracle="""
    SELECT month(o_orderdate) AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
      AND month(o_orderdate) = 6
    GROUP BY month(o_orderdate)
    """,
    description="OPTIMIZE ZORDER makes data skipping effective — measured "
    "in-query: 1995 orders land HASH-SHUFFLED (every file spans all "
    "months, so the month=6 stats read prunes nothing — asserted), then "
    "OPTIMIZE ZORDER BY (month, custkey) rewrites the layout and the "
    "rebuilt index prunes real files (asserted files_read < files_total). "
    "Same rows both times; the aggregate must equal the full-scan oracle "
    "after the rewrite — layout work changes I/O, never answers.",
    tags=("txn", "optimize", "zorder", "data-skipping", "scale"),
)
def txn_optimize_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_opt_skip", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "ord_log",
        T.StructType(
            [
                T.StructField("orderkey", T.LongType(), False),
                T.StructField("custkey", T.LongType(), True),
                T.StructField("month", T.IntegerType(), True),
                T.StructField("totalprice", T.DoubleType(), True),
            ]
        ),
    )
    wh.create_all()

    ord95 = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.month("o_orderdate").cast("int").alias("month"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
        )
    )
    # adversarial layout: hash-shuffle on orderkey so every file spans
    # all 12 months — min/max month stats are useless
    txn = wh.begin("shuffled")
    txn.stage(ord95.repartition(8, "orderkey"), "ord_log")
    txn.commit()
    wh.build_stats_index("ord_log", ["month"])
    _, before = wh.read_skipping("ord_log", {"month": (6, 6)})
    # hash layout: stats prune (almost) nothing — most files hold month 6
    assert before["files_total"] > 1, before
    assert before["files_read"] * 2 > before["files_total"], before

    # the layout operation: cluster by (month, custkey), refresh stats
    wh.optimize(
        "ord_log", zorder_by=("month", "custkey"), min_files=8
    )
    wh.build_stats_index("ord_log", ["month"])
    df, after = wh.read_skipping("ord_log", {"month": (6, 6)})
    assert after["files_read"] < after["files_total"], (before, after)
    assert after["files_read"] <= before["files_read"], (before, after)
    return (
        df.filter(F.col("month") == 6)
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "txn_rollback_read",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name
    FROM customer WHERE c_custkey % 2 = 0
    """,
    description="Snapshot rollback as a metadata-only commit: two batches "
    "commit (even then odd custkeys), a COMPACTION folds both into one "
    "run, then rollback to the first snapshot must retire the compacted "
    "run AND restore the even batch's original run through the marker's "
    "restores field — the sequential live-run fold applies the "
    "restoration at its commit position. The current read after rollback "
    "must equal exactly the first batch; a resurrected odd row or a lost "
    "even row flips the hash.",
    tags=("txn", "rollback", "time-travel", "etl"),
)
def txn_rollback_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_rb", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "cust_log",
        T.StructType(
            [
                T.StructField("custkey", T.LongType(), False),
                T.StructField("name", T.StringType(), True),
            ]
        ),
    )
    wh.create_all()

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )
    for label, parity in (("rb-even", 0), ("rb-odd", 1)):
        txn = wh.begin(label)
        txn.stage(cust.filter(F.col("custkey") % 2 == parity), "cust_log")
        txn.commit()
    s1 = next(s["seq"] for s in wh.snapshots() if s["run_id"] == "rb-even")
    wh.compact("cust_log")  # rollback must cross this boundary
    retired = wh.rollback("cust_log", s1)
    assert retired, "rollback should retire the compaction + odd runs"
    return wh.read("cust_log")


@query(
    "txn_branch_read",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name
    FROM customer
    WHERE (c_custkey % 2 = 0 AND c_custkey % 10 <> 0)
       OR (c_custkey % 2 = 1 AND c_custkey % 3 = 0)
    """,
    description="Zero-copy branch lifecycle over the commit log "
    "(Nessie/LakeFS-style refs, no reference equivalent): main commits "
    "the even custkeys, a 'dev' branch appends odds divisible by 3 and "
    "MoR-deletes the multiples of 10, all invisible to main; a tag pins "
    "the pre-merge snapshot; the fast-forward merge publishes the "
    "branch's net effect as ONE metadata-only commit (restores adopt the "
    "branch runs — no data copies, asserted by run-dir census). The "
    "final main read must equal evens-minus-tens plus odd-threes; a "
    "leaked pre-merge branch row, a lost tombstone, or a wrong seq "
    "replay order flips the hash.",
    tags=("txn", "branch", "ref", "etl"),
)
def txn_branch_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_branch", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "cust_log",
        T.StructType(
            [
                T.StructField("custkey", T.LongType(), False),
                T.StructField("name", T.StringType(), True),
            ]
        ),
        primary_key=("custkey",),
    )
    wh.create_all()

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )
    txn = wh.begin("br-even")
    txn.stage(cust.filter(F.col("custkey") % 2 == 0), "cust_log")
    txn.commit()

    dev = wh.create_branch("dev")
    txn = dev.begin("br-odd3")
    txn.stage(
        cust.filter(
            (F.col("custkey") % 2 == 1) & (F.col("custkey") % 3 == 0)
        ),
        "cust_log",
    )
    txn.commit()
    dev.delete_where("cust_log", F.col("custkey") % 10 == 0)

    # branch work is invisible on main until the merge
    wh.create_tag("pre-merge")
    n_main_rows = wh.read("cust_log").count()
    runs_before = {
        e
        for e in os.listdir(wh.path("cust_log"))
        if e.startswith("__run_id=")
    }
    report = wh.merge_branch("dev")
    assert report["merged"], report
    runs_after = {
        e
        for e in os.listdir(wh.path("cust_log"))
        if e.startswith("__run_id=")
    }
    assert runs_after == runs_before, "merge must be metadata-only"
    assert (
        wh.read("cust_log", as_of="tag:pre-merge").count() == n_main_rows
    ), "tag must still see the pre-merge snapshot"
    return wh.read("cust_log")


@query(
    "txn_branch_merge_read",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name
    FROM customer
    WHERE c_custkey % 2 = 0
       OR (c_custkey % 2 = 1 AND c_custkey % 3 = 0)
       OR (c_custkey % 2 = 1 AND c_custkey % 5 = 0 AND c_custkey % 3 <> 0)
    """,
    description="Three-way (union) merge of DIVERGED append-only "
    "histories: main commits evens, a branch forks and appends odd "
    "threes, main then appends odd fives (divergence on the same "
    "table). Fast-forward merge must refuse; strategy='union' verifies "
    "both sides are pure appends and no primary key landed on both "
    "sides, then adopts the branch runs while keeping main's — one "
    "metadata-only commit (run-dir census asserted). The final read is "
    "the row union; a retired main run, a doubled key, or a leaked "
    "refusal flips the hash.",
    tags=("txn", "branch", "merge", "etl"),
)
def txn_branch_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.sources.warehouse import (
        BranchConflictError,
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_branch_merge", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "cust_log",
        T.StructType(
            [
                T.StructField("custkey", T.LongType(), False),
                T.StructField("name", T.StringType(), True),
            ]
        ),
        primary_key=("custkey",),
    )
    wh.create_all()

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )
    odd = F.col("custkey") % 2 == 1
    txn = wh.begin("bm-even")
    txn.stage(cust.filter(F.col("custkey") % 2 == 0), "cust_log")
    txn.commit()

    dev = wh.create_branch("dev")
    txn = dev.begin("bm-odd3")
    txn.stage(cust.filter(odd & (F.col("custkey") % 3 == 0)), "cust_log")
    txn.commit()

    # main diverges AFTER the fork: appends odd fives (minus the threes
    # the branch took, so no primary key lands on both sides)
    txn = wh.begin("bm-odd5")
    txn.stage(
        cust.filter(
            odd & (F.col("custkey") % 5 == 0) & (F.col("custkey") % 3 != 0)
        ),
        "cust_log",
    )
    txn.commit()

    try:
        wh.merge_branch("dev")
        raise AssertionError("diverged ff merge must refuse")
    except BranchConflictError:
        pass
    runs_before = {
        e
        for e in os.listdir(wh.path("cust_log"))
        if e.startswith("__run_id=")
    }
    report = wh.merge_branch("dev", strategy="union")
    assert report["merged"] and report["strategy"] == "union", report
    assert report["tables"]["cust_log"]["removes"] == [], report
    runs_after = {
        e
        for e in os.listdir(wh.path("cust_log"))
        if e.startswith("__run_id=")
    }
    assert runs_after == runs_before, "union merge must be metadata-only"
    return wh.read("cust_log")


@query(
    "observations_ingest_valid",
    oracle="""
    SELECT c_custkey,
           list_extract(['final','amended','preliminary','registered','BOGUS'],
                        CAST(c_custkey % 5 AS INT) + 1) AS status,
           'http://loinc.org' AS primary_system,
           'C' || CAST(c_custkey AS VARCHAR) AS primary_code,
           CASE WHEN c_custkey % 3 <> 0
                THEN CAST(c_custkey % 500 AS DOUBLE) / 10.0 END AS value,
           CASE WHEN c_custkey % 3 <> 0 THEN 'mg' END AS unit
    FROM customer
    WHERE c_custkey % 101 <> 0 AND c_custkey % 97 <> 0 AND c_custkey % 89 <> 0
      AND c_custkey % 5 <> 4 AND c_custkey % 83 <> 0 AND c_custkey % 79 <> 0
      AND c_custkey % 7 <> 0 AND c_custkey % 11 <> 0 AND c_custkey % 19 <> 0
    """,
    description="FHIR Observation valid-side ingest (complement of "
    "observations_ingest_invalid): payloads passing the compiled nested "
    "rules are projected into the flat clinical-store shape — status, "
    "primary coding (system, code), quantity value+unit. Same "
    "validate_split plan; the projection prunes the nested structs so "
    "only the touched leaves are read.",
    tags=("validation", "nested", "etl"),
)
def observations_ingest_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.validation import (
        OBSERVATION_DDL,
        OBSERVATION_RULES,
    )

    raw = td(spark, sf_dir, "customer").selectExpr("c_custkey", _OBS_PAYLOAD)
    flat = raw.select(
        "c_custkey", "payload", F.from_json("payload", OBSERVATION_DDL).alias("obs")
    ).select("c_custkey", "payload", "obs.*")
    valid, _ = validate_split(flat, OBSERVATION_RULES)
    first = F.col("code").getField("coding").getItem(0)
    return valid.select(
        "c_custkey",
        "status",
        first.getField("system").alias("primary_system"),
        first.getField("code").alias("primary_code"),
        F.col("valueQuantity").getField("value").alias("value"),
        F.col("valueQuantity").getField("unit").alias("unit"),
    )


@query(
    "k_anonymity_patients",
    oracle=_SYNTH_CTE
    + "SELECT gender, substr(birthDate, 1, 3) || '0s' AS decade,\n"
    + "       count(*) AS class_size,\n"
    + "       count(*) < 5 AS k_violation,\n"
    + "       count(DISTINCT data_sharing) AS l_diversity,\n"
    + "       count(DISTINCT data_sharing) <= 1 AS homogeneous\n"
    + "FROM synth\nWHERE "
    + _DUCK_IS_VALID
    + "\nGROUP BY 1, 2",
    description="Re-identification risk audit over the validated patient "
    "batch: equivalence classes on the (gender, birth decade) "
    "quasi-identifiers, per-class size with the k=5 violation flag, and "
    "distinct-l diversity + homogeneity flag on the data-sharing consent "
    "as the sensitive attribute. One map-side-combined groupBy; the "
    "standard pre-release privacy audit for a PHI store.",
    tags=("privacy", "k-anonymity", "etl"),
)
def k_anonymity_patients(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.privacy import k_anonymity

    raw = _synth_patients(spark, sf_dir)
    valid, _ = validate_split(raw, PATIENT_RULES)
    prepared = valid.select(
        "gender",
        F.concat(F.substring("birthDate", 1, 3), F.lit("0s")).alias("decade"),
        F.col("consent")["data_sharing"].alias("data_sharing"),
    )
    return k_anonymity(
        prepared, ["gender", "decade"], sensitive_col="data_sharing", k=5
    )


@query(
    "deidentify_patients",
    oracle=_SYNTH_CTE
    + "SELECT md5('deid:' || mrn) AS pseudonym,\n"
    + "       CAST(substr(birthDate, 1, 4) AS INTEGER) AS birth_year,\n"
    + "       CASE WHEN 2026 - CAST(substr(birthDate, 1, 4) AS INTEGER) >= 90\n"
    + "            THEN '90+'\n"
    + "            ELSE CAST(2026 - CAST(substr(birthDate, 1, 4) AS INTEGER)\n"
    + "                      AS VARCHAR) END AS age_band,\n"
    + "       CAST(NULL AS VARCHAR) AS ssn,\n"
    + "       gender\n"
    + "FROM synth\nWHERE "
    + _DUCK_IS_VALID,
    description="HIPAA Safe-Harbor-style de-identification of the validated "
    "batch: mrn -> keyed md5 pseudonym, birth date generalized to year, "
    "age top-coded at 90+ (exercised by unit test; this corpus's ages "
    "fall below), ssn suppressed with the column kept for schema "
    "stability, gender passed through. Pure projection - runs at any "
    "scale, value-checked end-to-end.",
    tags=("privacy", "deidentify", "etl"),
)
def deidentify_patients(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.privacy import (
        safe_harbor_deidentify,
    )

    raw = _synth_patients(spark, sf_dir)
    valid, _ = validate_split(raw, PATIENT_RULES)
    return safe_harbor_deidentify(valid)


@query(
    "gdpr_forget_read",
    oracle=_SYNTH_CTE
    + "SELECT mrn, gender\nFROM synth\nWHERE "
    + _DUCK_IS_VALID
    + " AND data_sharing IS TRUE AND c_custkey % 4 = 2",
    description="Right-to-be-forgotten over the transactional warehouse: the "
    "even-custkey batch commits, then every subject with custkey % 4 == 0 "
    "is erased via forget() — one transaction whose marker atomically "
    "replaces the live runs with rewritten, subject-free data. The "
    "committed read must return exactly the % 4 == 2 remainder: a "
    "half-applied erasure or a resurrected row flips the hash.",
    tags=("txn", "privacy", "gdpr", "etl"),
)
def gdpr_forget_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from healthcare_etl_pipeline_spark.operators.ingest import load_patients
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_gdpr", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.create_all()

    raw = _synth_patients(spark, sf_dir)
    valid, _ = validate_split(raw, PATIENT_RULES)
    consented, _ = consent_gate(valid, consent_col=F.col("consent")["data_sharing"])
    txn = wh.begin("gdpr-even")
    load_patients(
        wh,
        transform_patients(consented.filter(F.col("c_custkey") % 2 == 0)),
        txn=txn,
    )
    txn.commit()

    # subject set: custkey % 4 == 0 (mrn encodes the custkey)
    erase = F.substring("mrn", 4, 20).cast("long") % 4 == 0
    wh.forget({"patients": erase})
    return wh.read("patients").select("mrn", "gender")


@query(
    "dp_counts_events",
    oracle="""
    SELECT event_type, count(*) AS n_exact, TRUE AS dp_ok
    FROM events GROUP BY event_type
    """,
    description="Differentially-private count release (Laplace mechanism, "
    "epsilon=0.5, sensitivity 1) as a tail-bound accuracy CONTRACT: the "
    "per-event-type noisy counts are genuinely random so cannot hash, so "
    "the query emits the exact counts (hash-checked) plus dp_ok = "
    "|noisy - exact| <= 10*scale per group (miss probability e^-10 ~ "
    "4.5e-5 per group - a mechanism bug flips the boolean). Production "
    "callers release n_noisy only; see operators/privacy.py:dp_counts.",
    tags=("privacy", "dp", "agg"),
)
def dp_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.operators.privacy import dp_counts

    ev = t(spark, sf_dir, "events")
    out = dp_counts(ev, ["event_type"], epsilon=0.5, sensitivity=1.0)
    bound = 10.0 * (1.0 / 0.5)
    return out.select(
        "event_type",
        "n_exact",
        (F.abs(F.col("n_noisy") - F.col("n_exact")) <= bound + 0.5).alias("dp_ok"),
    )


@query(
    "txn_incremental_read",
    oracle=_SYNTH_CTE
    + "SELECT mrn, gender\nFROM synth\nWHERE "
    + _DUCK_IS_VALID
    + " AND data_sharing IS TRUE AND c_custkey % 2 = 1",
    description="Incremental (CDC-style) read over the transactional "
    "warehouse: two committed ingest batches (even, then odd custkeys) "
    "followed by a compaction commit; read_changes since the first "
    "snapshot must return exactly the SECOND batch — later compaction "
    "rewrites introduce no rows and are skipped (Iceberg incremental-"
    "append-scan semantics). The run_id set prunes at file-listing time, "
    "so the scan cost is proportional to the change, not the table.",
    tags=("txn", "cdc", "incremental", "etl"),
)
def txn_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from healthcare_etl_pipeline_spark.operators.ingest import load_patients
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    root = scratch_dir("txn_inc", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.create_all()

    raw = _synth_patients(spark, sf_dir)
    valid, _ = validate_split(raw, PATIENT_RULES)
    consented, _ = consent_gate(valid, consent_col=F.col("consent")["data_sharing"])

    for label, parity in (("inc-even", 0), ("inc-odd", 1)):
        txn = wh.begin(label)
        load_patients(
            wh,
            transform_patients(consented.filter(F.col("c_custkey") % 2 == parity)),
            txn=txn,
        )
        txn.commit()
    wh.compact("patients")

    s1 = next(s["seq"] for s in wh.snapshots() if s["run_id"] == "inc-even")
    return wh.read_changes("patients", since=s1).select("mrn", "gender")
