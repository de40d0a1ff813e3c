"""Streaming operator tests: windowed aggregation parity batch vs stream."""

from healthcare_etl_pipeline_spark.catalog import load_table
from healthcare_etl_pipeline_spark.streaming.windows import (
    run_stream_to_memory,
    session_windows,
    stream_dedup,
    streaming_events,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_matches_batch(spark):
    stream_out = run_stream_to_memory(
        spark, tumbling_counts(streaming_events(spark, SF)), output_mode="complete"
    )
    batch_out = tumbling_counts(load_table(spark, SF, "events"))
    s = {(str(r.window_start), r.event_type): (r.n, r.total_value) for r in stream_out.collect()}
    b = {(str(r.window_start), r.event_type): (r.n, r.total_value) for r in batch_out.collect()}
    assert s == b
    assert len(s) > 0


def test_complete_mode_nodata_skip_identical_and_confs_restored(spark):
    """run_stream_to_memory pins noDataMicroBatches=false for COMPLETE-mode
    runs (the trailing no-data batch is a full state-commit round that
    cannot change a complete-mode result). Assert the result matches a run
    with the extra batch forced back on, and that session confs are
    restored after start()."""
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")

    skipped = run_stream_to_memory(
        spark,
        tumbling_counts(streaming_events(spark, SF)),
        output_mode="complete",
        state_partitions=2,
    )
    # session conf untouched after the start window
    assert spark.conf.get(conf, None) in (None, "true")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts

    # reference leg: same plan driven WITH the no-data batch (default conf,
    # started directly so the helper's pin does not apply)
    q = (
        tumbling_counts(streaming_events(spark, SF))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("nodata_ref")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    with_nodata = spark.table("nodata_ref")
    key = lambda r: (str(r.window_start), r.event_type)
    a = {key(r): (r.n, r.total_value) for r in skipped.collect()}
    b = {key(r): (r.n, r.total_value) for r in with_nodata.collect()}
    assert a == b and len(a) > 0


def test_stream_dedup_unique_events(spark):
    stream = streaming_events(spark, SF)
    out = run_stream_to_memory(
        spark, stream_dedup(stream).select("event_id"), output_mode="append"
    )
    n = out.count()
    assert n == load_table(spark, SF, "events").select("event_id").distinct().count()


def test_session_window_spans(spark):
    events = load_table(spark, SF, "events")
    out = session_windows(events)
    rows = out.collect()
    assert len(rows) > 0
    for r in rows[:50]:
        # session end = last event + gap → end > start always
        assert r.session_end > r.session_start
        assert r.n_events >= 1


def test_stateful_user_totals_matches_batch(spark):
    """applyInPandasWithState final state == batch groupBy on bounded input."""
    from pyspark.sql import functions as F

    from healthcare_etl_pipeline_spark.queries.registry import get
    from healthcare_etl_pipeline_spark.queries.helpers import t

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in get("stream_stateful_user_totals").fn(spark, sf).collect()
    }
    want = {
        r.user_id: (r.n_events, r.total_value)
        for r in t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_stateful_sessions_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout retirement: a key with NO follow-up event must still
    emit its open session once the watermark (advanced by OTHER keys'
    events in later micro-batches) passes its session_end."""
    import pandas as pd
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.streaming.stateful import (
        stateful_session_windows,
    )
    from healthcare_etl_pipeline_spark.streaming.windows import run_stream_to_memory

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    ts = lambda s: pd.Timestamp(s).to_pydatetime()
    # batch 1: user 1's only events (a 2-event session)
    spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), 1), (2, ts("2024-01-01 10:10:00"), 1)],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    # batch 2: user 2 far ahead — advances the watermark past user 1's
    # session_end (10:40) once processed
    spark.createDataFrame(
        [(3, ts("2024-01-01 14:00:00"), 2)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    # batch 3: user 3 even later — the batch in which user 1's timeout fires
    spark.createDataFrame(
        [(4, ts("2024-01-01 18:00:00"), 3)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b3"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
        .withWatermark("ts", "10 minutes")
    )
    sessions = stateful_session_windows(stream, gap="30 minutes")
    out = run_stream_to_memory(spark, sessions, output_mode="append")
    got = {r.user_id: r for r in out.collect()}
    # user 1 emitted by TIMEOUT (no user-1 event ever closed the session)
    assert 1 in got
    assert got[1].n_events == 2
    assert got[1].session_start == ts("2024-01-01 10:00:00")
    assert got[1].session_end == ts("2024-01-01 10:40:00")
    # user 2's session end (14:30) <= final watermark (17:50) → also retired;
    # user 3's (18:30) > watermark → still open, not emitted
    assert 2 in got
    assert 3 not in got


def test_streaming_patient_ingest_foreachbatch(spark, warehouse, tmp_path):
    """JSONL patient files → streaming 5-stage pipeline → warehouse tables."""
    import json

    from healthcare_etl_pipeline_spark.streaming.ingest_stream import (
        patient_record_stream,
        streaming_patient_ingest,
    )
    from tests.conftest import make_patient

    src = tmp_path / "incoming"
    src.mkdir()
    batch = [
        make_patient(),
        make_patient(mrn="MRN-002", name="John Roe", consent={"data_sharing": False}),
        make_patient(mrn="MRN-003", name=None),  # invalid
        make_patient(mrn="MRN-004", name="Ana Diaz"),
    ]
    (src / "batch1.jsonl").write_text("\n".join(json.dumps(r) for r in batch))

    stream = patient_record_stream(spark, str(src))
    q = streaming_patient_ingest(
        stream, warehouse, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    assert warehouse.read("patients").count() == 2  # valid AND consented only
    assert warehouse.read("audit_log").count() == 2
    actors = {r.actor for r in warehouse.read("audit_log").collect()}
    assert actors == {"stream:batch=0"}

    # redelivery idempotence: a second drain over the same files must not
    # duplicate patients (mrn anti-join routes them as conflicts)
    q2 = streaming_patient_ingest(
        stream, warehouse, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert warehouse.read("patients").count() == 2


def test_streaming_patient_ingest_crash_replay(spark, warehouse, tmp_path, monkeypatch):
    """A micro-batch that fails after its patients are staged commits
    nothing; the restart from the same checkpoint replays it under the same
    run id and writes every table of the batch, children included."""
    import json

    import pytest
    from pyspark.errors import StreamingQueryException

    from healthcare_etl_pipeline_spark.operators import ingest as ingest_ops
    from healthcare_etl_pipeline_spark.sources.warehouse import TABLE_SCHEMAS
    from healthcare_etl_pipeline_spark.streaming.ingest_stream import (
        patient_record_stream,
        streaming_patient_ingest,
    )
    from tests.conftest import make_patient

    src = tmp_path / "incoming"
    src.mkdir()
    batch = [
        make_patient(),
        make_patient(mrn="MRN-002", name="John Roe", consent={"data_sharing": False}),
        make_patient(mrn="MRN-003", name=None),  # invalid
        make_patient(mrn="MRN-004", name="Ana Diaz"),
    ]
    (src / "batch1.jsonl").write_text("\n".join(json.dumps(r) for r in batch))
    ckpt = str(tmp_path / "ckpt")

    def crash(_patients):  # the consent sink runs right after patients
        raise RuntimeError("injected crash after the patients stage")

    def counts():
        return {t: warehouse.read(t).count() for t in TABLE_SCHEMAS}

    with monkeypatch.context() as m:
        m.setattr(ingest_ops, "explode_consents", crash)
        q = streaming_patient_ingest(
            patient_record_stream(spark, str(src)), warehouse, checkpoint_dir=ckpt
        )
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(120)
    assert set(counts().values()) == {0}

    q2 = streaming_patient_ingest(
        patient_record_stream(spark, str(src)), warehouse, checkpoint_dir=ckpt
    )
    q2.awaitTermination(120)
    # the 2 valid, consented patients with their 2 consent rows each
    assert counts() == {
        "patients": 2,
        "consent_records": 4,
        "clinical_records": 2,
        "audit_log": 2,
        "pipeline_runs": 0,
    }
    assert {r.actor for r in warehouse.read("audit_log").collect()} == {
        "stream:batch=0"
    }
