"""SparkSession construction with scale-appropriate defaults.

Single place that encodes the engine's execution posture:

- UTC session timezone (oracle comparisons, FHIR timestamps are UTC —
  reference stores UTC-aware datetimes, app/models/patient.py:46-47).
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast conversion — the knobs that keep a fixed logical plan efficient
  from sf0.001 in tests to 100 TB on a real cluster.
- Arrow on: vectorized Pandas-UDF exchange for the few Python-side ops.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by the submitter (or left to AQE coalescing from a high base).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_APP_NAME = "healthcare-etl-pipeline-spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    If a session already exists (e.g. the driver passed one in), it is
    returned as-is — configs that require JVM restart cannot be changed.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = (
        shuffle_partitions
        or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0"))
        or cpus
    )

    # SPARK_GRAFT_MASTER overrides the master URL — the multi-executor
    # proof rung runs the same tools under `local-cluster[4,8,8192]`
    # (separate executor JVMs: real shuffle-block and broadcast transport,
    # serialized task closures, retry placement) without forking any code
    # path. Everything else about the session is identical.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if master.startswith("local-cluster"):
        # Executor JVMs fork their own Python workers: pin them to this
        # interpreter so pandas UDFs resolve the same environment.
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing, measured on the crypto pandas UDFs (the
        # heaviest per-row Python work) at sf0.1 AND the 10x rung: 50k-row
        # batches beat the 10k default at both scales (0.95->0.76 s and
        # 5.70->5.15 s patients_ingest_valid) — fewer batch handshakes,
        # same streamed-iterator memory profile; rows crossing this
        # boundary are narrow (strings/few doubles), so 50k rows stays
        # ~MB-scale per batch. Override per deployment for wide rows.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "50000"),
        )
        # ... bounded in BYTES so wide rows (documents text ~KBs) never
        # balloon to 100 MB batches: 50k-row text batches regressed the
        # corpus pipeline ~15% under the stock 64 MB bound; at 32 MB text
        # batches land at ~16k rows (back to baseline) while the narrow
        # crypto rows still fill the full 50k (A/B in the message of
        # commit 2cf33d2).
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH_BYTES", str(32 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEMORY", "1g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Partial aggregation + vectorized reader are defaults, but pin the
        # ones that matter for plan shape so behavior is reproducible.
        .config("spark.sql.parquet.filterPushdown", "true")
        # The generated-code cache defaults to 100 classes; a session
        # running 150+ distinct queries evicts a plan's codegen between
        # runs and pays multi-second recompiles (measured ~6 s on the
        # widest window query). Size it to the query surface.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Split small files down to row-group granularity so single-file
        # tables don't serialize scans on one core (locally; at scale the
        # many-files layout already yields >= cpus splits and this is inert).
        .config("spark.sql.files.minPartitionNum", str(cpus))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not master.startswith("local["):
        _ship_package(spark)
    return spark


_PKG_ZIP: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the ``spark-submit --py-files``
    mechanism, invoked programmatically).

    In-process ``local[n]`` masters share the driver's ``sys.path``, so
    tests never notice — but any master with separate executor JVMs
    (local-cluster, standalone, YARN, k8s) forks Python workers whose
    ``sys.path`` does NOT include the driver's cwd, and every
    cloudpickled pandas UDF that references this package fails with
    ModuleNotFoundError at deserialization (found by the round-8
    local-cluster drive: 7 codec/stream queries failed exactly this
    way). One zip per driver process, added via ``addPyFile`` so
    executors unpack it onto their worker path."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        import atexit
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        fd, path = tempfile.mkstemp(
            prefix="healthcare_etl_pipeline_spark-", suffix=".zip"
        )
        os.close(fd)
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                for name in filenames:
                    if not name.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, name)
                    rel = os.path.join(
                        os.path.basename(pkg_dir),
                        os.path.relpath(full, pkg_dir),
                    )
                    zf.write(full, rel)
        _PKG_ZIP = path
        # One zip per driver process, removed at interpreter exit so
        # repeated short-lived drivers (tools, subprocess tests) don't
        # accumulate zips in the temp dir.
        atexit.register(lambda p=path: os.path.exists(p) and os.unlink(p))
    spark.sparkContext.addPyFile(_PKG_ZIP)


def local_frame(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """A DataFrame over rows held in Python, planned as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list)`` plans a ``LogicalRDD`` over a pickled
    Python RDD, so every job touching the frame starts Python workers
    (~300 ms a trivial job, against ~80 ms for a JVM-only plan on a 4-core
    box). An Arrow table is handed to the JVM whole, and no job over it
    starts a Python worker.

    Acceptance and coercion are those of ``createDataFrame(list)``, by the
    same two functions that path runs: the schema verifier (a non-bool in a
    ``BooleanType`` field, a non-dict in a ``MapType`` field, or a null in a
    non-nullable field raises) and the converter (for ``StringType``, a bool
    becomes ``"true"``/``"false"`` and any other value ``str(v)``, e.g.
    ``123`` → ``"123"``, ``{'a': 1}`` → ``"{'a': 1}"``); plain
    ``pa.Table.from_pylist`` would raise on those values instead. A
    top-level ``TimestampType`` value is handed to Arrow in UTC, because
    pyarrow takes an aware datetime's wall time as UTC; a naive one is read
    as local time, as ``TimestampType.toInternal`` reads it.
    """
    import datetime

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        TimestampType,
        _create_converter,
        _make_type_verifier,
    )

    verify, convert = _make_type_verifier(schema), _create_converter(schema)
    ts_cols = [f.name for f in schema.fields if isinstance(f.dataType, TimestampType)]
    records = []
    for row in rows:
        verify(row)
        rec = dict(zip(schema.names, convert(row)))
        for name in ts_cols:
            if rec[name] is not None:
                rec[name] = rec[name].astimezone(datetime.timezone.utc)
        records.append(rec)
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def health_check(spark: SparkSession) -> bool:
    """Liveness probe (reference S8: ``SELECT 1`` connectivity check,
    app/api/routes.py:49-61): verifies the session can plan and execute."""
    try:
        return spark.sql("SELECT 1").collect()[0][0] == 1
    except Exception:  # noqa: BLE001 — probe must not raise
        return False


def tune_for_local_tests(spark: SparkSession) -> SparkSession:
    """Runtime-settable configs for small-data test runs."""
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    return spark
