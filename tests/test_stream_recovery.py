"""Kill-and-resume recovery proofs (round-7 verdict item 5).

The availableNow stream tests elsewhere drive queries to completion;
these restart queries MID-STREAM from their checkpoint and assert the
final result is exactly the batch oracle — the claims under test:

- txn sink exactly-once ACROSS a crash in the worst window (after the
  warehouse txn committed, before the checkpoint recorded the batch):
  the restart replays the batch with the same checkpoint-stable id and
  the idempotent sink makes it a no-op (streaming/txn_sink.py's stated
  failure matrix, executed for real).
- windowed-aggregation STATE survives restart: a window whose events
  span the stop point yields the full count, and the restarted run
  reads only the new files.
- the PyDS commit-log source (sources/pyds.py) composed with the txn
  sink keeps exactly-once warehouse→warehouse delivery across the same
  mid-stream crash.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryException

from healthcare_etl_pipeline_spark.sources import pyds
from healthcare_etl_pipeline_spark.sources.warehouse import TransactionalWarehouse
from healthcare_etl_pipeline_spark.streaming.txn_sink import txn_batch_sink
from healthcare_etl_pipeline_spark.streaming.windows import tumbling_counts

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)
EVENT_DDL = "ts timestamp_ntz, event_type string, value double"


def _write_file(spark, src_dir: str, name: str, rows, mtime: float) -> None:
    """One parquet file per call, with a pinned mtime so the file stream
    discovers them in a deterministic order (FileStreamSource batches by
    modification time)."""
    df = spark.createDataFrame(
        [(r[0], r[1], float(r[2])) for r in rows],
        "ts string, event_type string, value double",
    ).select(
        F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type", "value"
    )
    tmp = os.path.join(src_dir, f"__tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    dest = os.path.join(src_dir, name)
    os.replace(os.path.join(tmp, part), dest)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(dest, (mtime, mtime))


F1 = [
    ("2024-01-01 10:05:00", "click", 1.0),
    ("2024-01-01 10:20:00", "click", 2.0),
    ("2024-01-01 10:40:00", "view", 1.0),
]
F2 = [
    ("2024-01-01 10:50:00", "click", 4.0),  # same 10:00 window as F1
    ("2024-01-01 11:10:00", "view", 8.0),
]
F3 = [
    ("2024-01-01 11:30:00", "click", 16.0),
    ("2024-01-01 12:05:00", "view", 32.0),
]


def _await(q, timeout_s: int = 300) -> None:
    """awaitTermination(t) returns False on TIMEOUT without raising; under
    co-located load a 3-JVM box can stall availableNow past a fixed wait,
    and asserting table contents against a still-running query is a flake.
    Make the timeout a hard, named failure instead."""
    assert q.awaitTermination(timeout_s), (
        f"stream {q.name or q.id} still running after {timeout_s}s"
    )


def _file_stream(spark, src_dir: str):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # one file per micro-batch
        .parquet(src_dir)
    )


def test_txn_sink_exactly_once_across_crash_replay(spark, tmp_path):
    """Crash injected in the WORST window — after batch 1's warehouse
    transaction committed but before the checkpoint recorded batch 1.
    The restart must replay batch 1 (same checkpoint-stable id), the
    sink must no-op it, and the final table must equal the batch read
    of all files with no duplicates."""
    src = tmp_path / "src"
    src.mkdir()
    for i, (name, rows) in enumerate(
        [("f1.parquet", F1), ("f2.parquet", F2), ("f3.parquet", F3)]
    ):
        _write_file(spark, str(src), name, rows, 1_700_000_000 + i * 60)

    wh = TransactionalWarehouse(spark, str(tmp_path / "wh"))
    wh.register_table("events_sink", EVENT_SCHEMA)
    wh.create_all()

    base = txn_batch_sink(
        wh, lambda txn, df: txn.stage(df, "events_sink"), batch_prefix="s"
    )
    crashed = {"done": False}

    def sink(batch_df, batch_id):
        base(batch_df, batch_id)
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash: committed, not checkpointed")

    ckpt = str(tmp_path / "ckpt")

    def run():
        return (
            _file_stream(spark, str(src))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = run()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    # the dangerous state exists: batch 1's txn IS committed on disk,
    # yet the checkpoint will replay batch 1 on restart
    assert wh.is_committed("s-000000001")
    assert wh.read("events_sink").count() == len(F1) + len(F2)

    q2 = run()
    _await(q2)

    got = sorted(
        (str(r.ts), r.event_type, r.value)
        for r in wh.read("events_sink").collect()
    )
    want = sorted(
        (t[0], t[1], float(t[2])) for rows in (F1, F2, F3) for t in rows
    )
    assert got == want
    # exactly one commit marker per micro-batch — the replay published
    # nothing new
    runs = wh.committed_runs_for("events_sink")
    assert sorted(runs) == ["s-000000000", "s-000000001", "s-000000002"]


@pytest.mark.parametrize(
    "provider",
    [
        pytest.param(None, id="hdfs_backed"),
        pytest.param("rocksdb", id="rocksdb"),
    ],
)
def test_tumbling_state_recovered_across_restart(spark, tmp_path, provider):
    """Aggregation state crosses the stop point: the 10:00 window gets
    events before AND after the restart; the restarted complete-mode
    output must equal the batch oracle over ALL files while having read
    only the post-restart file. Parametrized over the state store
    provider: the RocksDB variant proves restart recovery reloads native
    SST state (changelog/snapshot files in the same checkpoint layout) —
    the heap-bounded provider the 100 TB posture defaults to for high
    key cardinality."""
    from healthcare_etl_pipeline_spark.streaming.windows import (
        ROCKSDB_PROVIDER,
    )

    provider_class = ROCKSDB_PROVIDER if provider == "rocksdb" else None
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_file(spark, str(src), "f1.parquet", F1, 1_700_000_000)

    PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"

    def run(name):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        prev_provider = spark.conf.get(PROVIDER_CONF, None)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        if provider_class:
            spark.conf.set(PROVIDER_CONF, provider_class)
        try:
            q = (
                tumbling_counts(_file_stream(spark, str(src)))
                .writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            if provider_class:
                if prev_provider is None:
                    spark.conf.unset(PROVIDER_CONF)
                else:
                    spark.conf.set(PROVIDER_CONF, prev_provider)
        _await(q)
        return q

    run("rec_phase1")
    _write_file(spark, str(src), "f2.parquet", F2, 1_700_000_060)
    q2 = run("rec_phase2")

    got = {
        (str(r.window_start), r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM rec_phase2").collect()
    }
    all_events = spark.createDataFrame(
        [(t[0], t[1], float(t[2])) for t in F1 + F2],
        "ts string, event_type string, value double",
    ).select(F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type", "value")
    want = {
        (str(r.window_start), r.event_type): (r.n, r.total_value)
        for r in tumbling_counts(all_events).collect()
    }
    assert got == want
    # the 10:00 click window spans the restart: 2 events from f1 + 1
    # from f2 — only recovered state can produce 3
    assert got[("2024-01-01 10:00:00", "click")][0] == 3
    # and the restarted run ingested ONLY f2's rows
    read_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    assert read_rows == len(F2)


def test_pyds_source_txn_sink_exactly_once_across_crash(spark, tmp_path):
    """Warehouse→warehouse CDC: the PyDS commit-log source's seq offsets
    + the idempotent txn sink stay exactly-once when the query dies
    between the sink's commit and the checkpoint's."""
    pyds.register(spark)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    src_wh = TransactionalWarehouse(spark, str(tmp_path / "src_wh"))
    src_wh.register_table("tbl", schema)
    src_wh.create_all()
    dst_wh = TransactionalWarehouse(spark, str(tmp_path / "dst_wh"))
    dst_wh.register_table("mirror", schema)
    dst_wh.create_all()

    def commit(batch, pairs):
        txn = src_wh.begin(batch)
        txn.stage(spark.createDataFrame(pairs, schema), "tbl")
        assert txn.commit()

    base = txn_batch_sink(
        dst_wh, lambda txn, df: txn.stage(df, "mirror"), batch_prefix="cdc"
    )
    crashed = {"done": False}

    def sink(batch_df, batch_id):
        base(batch_df, batch_id)
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash: committed, not checkpointed")

    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.format("warehouse_commits")
            .option("root", src_wh.root)
            .option("table", "tbl")
            .option("schema_ddl", "k bigint, v string")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        return q

    commit("b0", [(1, "a"), (2, "b")])
    q = run()
    _await(q)  # batch 0 clean
    commit("b1", [(3, "c")])
    q = run()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()  # batch 1 committed to dst, then crashed
    assert dst_wh.is_committed("cdc-000000001")
    commit("b2", [(4, "d")])
    # Python stream sources lack SupportsTriggerAvailableNow: Spark falls
    # back to single-batch execution, so this restart run ONLY replays the
    # uncommitted batch 1 (same offsets, same id) — the no-op window the
    # idempotent sink must absorb
    q = run()
    _await(q)
    assert sorted((r.k, r.v) for r in dst_wh.read("mirror").collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    q = run()  # next drain delivers batch 2 (b2's rows)
    _await(q)

    got = sorted((r.k, r.v) for r in dst_wh.read("mirror").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert sorted(dst_wh.committed_runs_for("mirror")) == [
        "cdc-000000000",
        "cdc-000000001",
        "cdc-000000002",
    ]
