"""Streaming queries driven to completion over the bounded events table.

Each runs a REAL Structured Streaming query (file source → availableNow →
memory sink) and returns the settled result; the DuckDB oracle states the
equivalent batch SQL — cross-checking Spark's incremental execution against
a from-scratch computation, which is exactly the guarantee streaming users
care about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_pipeline_spark.operators.text import portable_char_hash_sql
from healthcare_etl_pipeline_spark.queries.helpers import scratch_dir
from healthcare_etl_pipeline_spark.queries.registry import query
from healthcare_etl_pipeline_spark.streaming.windows import (
    run_stream_to_memory,
    session_windows,
    sliding_counts,
    stream_dedup,
    streaming_events,
    tumbling_counts,
)


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    description="Structured Streaming tumbling 1h window (watermark + "
    "availableNow) vs batch recomputation oracle.",
    tags=("streaming", "window"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = streaming_events(spark, sf_dir, watermark="1 hour")
    agg = tumbling_counts(stream)
    # state = one key per (hour-window, type): bounded by the time horizon,
    # not the event volume (3,595 windows at the 100x rung) -> 2 stores
    return run_stream_to_memory(
        spark, agg, output_mode="complete", state_partitions=2
    )


@query(
    "stream_late_data_drop",
    oracle="""
    WITH on_time AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type, value
      FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'),
    wm AS (
      SELECT max(ts) - INTERVAL 1 HOUR AS w
      FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00')
    SELECT window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM on_time, wm
    WHERE window_start + INTERVAL 1 HOUR <= wm.w
    GROUP BY window_start, event_type
    """,
    description="Watermark LATE-DATA DROP, proven with real out-of-order "
    "arrival: the events table is staged as three files consumed oldest-"
    "mtime-first, one per micro-batch (maxFilesPerTrigger=1) — batches 1-2 "
    "carry everything from Jan-10 on (their max ts advances the watermark "
    "to max-1h; two batches because the watermark computed from a batch "
    "takes effect ONE TRIGGER LATER — measured on this engine, and the "
    "reason single-batch late-data tests prove nothing), batch 3 carries "
    "the Jan-1..9 tail, now DAYS behind the watermark. Append-mode "
    "tumbling aggregation must drop every batch-3 row (asserted in-query: "
    "no pre-Jan-10 window appears — which also proves the batches really "
    "ran in order, since collapsed batches would admit them) and withhold "
    "the still-open windows past the final watermark. The oracle models "
    "both rules in batch SQL: rows before the split excluded, windows "
    "with end > max(ts)-1h withheld.",
    tags=("streaming", "watermark", "late-data", "window"),
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.queries.helpers import t

    src = scratch_dir("late_src", sf_dir)
    os.makedirs(src, exist_ok=True)
    split = F.lit("2024-01-10 00:00:00").cast("timestamp")
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    recent = ev.filter(F.col("ts") >= split)
    for name, frame, mtime in (
        ("batch1_recent.parquet", recent.filter(F.col("event_id") % 2 == 0), 1_000_000),
        ("batch2_recent.parquet", recent.filter(F.col("event_id") % 2 == 1), 1_000_100),
        ("batch3_late.parquet", ev.filter(F.col("ts") < split), 1_000_200),
    ):
        tmp = os.path.join(src, f"_tmp_{name}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dest = os.path.join(src, name)
        shutil.move(os.path.join(tmp, part), dest)
        shutil.rmtree(tmp)
        # FileStreamSource orders batches by mtime: recent file FIRST so
        # its max ts advances the watermark before the old rows arrive
        os.utime(dest, (mtime, mtime))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
    )
    agg = tumbling_counts(stream)
    res = run_stream_to_memory(spark, agg, output_mode="append")
    res = res.localCheckpoint(eager=True)  # settle before asserting
    # every batch-2 (pre-split) row must have been dropped as late —
    # and if the two files had collapsed into one micro-batch, their
    # windows WOULD appear, so this also pins the arrival order
    stray = res.filter(
        F.col("window_start") < F.lit("2024-01-10 00:00:00").cast("timestamp_ntz")
    ).count()
    assert stray == 0, f"{stray} late windows leaked past the watermark"
    return res


@query(
    "stream_sliding_counts",
    oracle="""
    WITH expanded AS (
      SELECT unnest([time_bucket(INTERVAL 1 HOUR, ts),
                     time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR]) AS window_start,
             event_type
      FROM events
    )
    SELECT window_start, event_type, count(*) AS n
    FROM expanded GROUP BY 1, 2
    """,
    description="Sliding 2h/1h windows (each event in 2 windows) — streaming "
    "plan vs batch window-expansion oracle.",
    tags=("streaming", "window"),
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = streaming_events(spark, sf_dir, watermark="1 hour")
    agg = sliding_counts(stream)
    # time-bounded state like tumbling (2 windows/event, same key space)
    return run_stream_to_memory(
        spark, agg, output_mode="complete", state_partitions=2
    )


@query(
    "session_window_users",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS seq
      FROM flagged
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, seq
    """,
    description="Native session_window (30min gap) cross-checked against the "
    "lag+cumsum SQL definition of sessionization.",
    tags=("streaming", "window", "sessionize"),
)
def session_window_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.queries.helpers import t

    # session_window in batch mode: same operator Structured Streaming uses,
    # checked against the from-first-principles oracle.
    events = t(spark, sf_dir, "events")
    return session_windows(events)


@query(
    "stream_dedup_events",
    oracle="SELECT DISTINCT event_id, user_id, event_type FROM events",
    description="Streaming dedup (dropDuplicatesWithinWatermark): "
    "watermark-bounded state (the deployable dedup form).",
    tags=("streaming", "dedup"),
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = streaming_events(spark, sf_dir, watermark="1 hour")
    deduped = stream_dedup(stream, ("event_id",)).select(
        "event_id", "user_id", "event_type"
    )
    return run_stream_to_memory(spark, deduped, output_mode="append")


@query(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
    description="Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running totals; bounded-stream final state must equal the "
    "batch groupBy — the arbitrary-state escape hatch, oracle-checked.",
    tags=("streaming", "stateful", "pandas-udf"),
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.streaming.stateful import (
        stateful_user_totals,
    )

    stream = streaming_events(spark, sf_dir, watermark=None)
    totals = stateful_user_totals(stream)
    settled = run_stream_to_memory(spark, totals, output_mode="update")
    return settled.select(
        "user_id",
        "n_events",
        "total_value",
        F.col("last_ts").cast("timestamp_ntz").alias("last_ts"),
    )


_DUCK_NORM_TEXT = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@query(
    "stream_dedup_by_fingerprint",
    oracle=f"SELECT DISTINCT {portable_char_hash_sql(_DUCK_NORM_TEXT)} AS fp FROM documents",
    description="Streaming CONTENT dedup: per-microbatch document "
    "fingerprints (normalized rolling hash) deduplicated in-stream — the "
    "streaming form of exact corpus dedup, emitting each distinct content "
    "digest once. Documents carry no event time, so this uses unbounded "
    "dropDuplicates state; a deployment keyed on ingest time would use "
    "dropDuplicatesWithinWatermark (see stream_dedup_events).",
    tags=("streaming", "dedup", "fingerprint", "llm"),
)
def stream_dedup_by_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.operators import text as X

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    fp = stream.select(X.fingerprint("text").alias("fp"))
    deduped = fp.dropDuplicates(["fp"])
    return run_stream_to_memory(spark, deduped, output_mode="append")


@query(
    "stream_session_stateful",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS seq
      FROM flagged
    ), sess AS (
      SELECT user_id, seq,
             CAST(min(ts) AS TIMESTAMP) AS session_start,
             CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
             count(*) AS n_events
      FROM numbered GROUP BY user_id, seq
    )
    SELECT user_id, session_start, session_end, n_events
    FROM sess
    WHERE seq < (SELECT max(s2.seq) FROM sess s2 WHERE s2.user_id = sess.user_id)
       OR session_end <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    """,
    description="Custom stateful sessionization (applyInPandasWithState + "
    "EventTimeTimeout key retirement): closed sessions emit append-mode when "
    "a later event proves the gap; open sessions emit via TIMEOUT when the "
    "watermark passes session_end — availableNow's final no-data microbatch "
    "advances the watermark to max(ts) - delay and fires the retirements. "
    "Oracle: batch sessionization, except each user's final session emits "
    "only if its end cleared the final watermark.",
    tags=("streaming", "stateful", "sessionize", "pandas-udf"),
)
def stream_session_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.streaming.stateful import (
        stateful_session_windows,
    )

    stream = streaming_events(spark, sf_dir, watermark="1 hour")
    sessions = stateful_session_windows(stream, gap="30 minutes")
    settled = run_stream_to_memory(spark, sessions, output_mode="append")
    return settled.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


@query(
    "stream_stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id
    FROM events c
    JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts <= p.ts
     AND c.event_id <> p.event_id
    WHERE c.event_type = 'click'
    """,
    description="Stream-stream interval join: clicks joined to purchases of "
    "the same user within the preceding 30 minutes, BOTH sides streaming "
    "with watermarks (bounded state) — checked against the batch range-join "
    "recomputation.",
    tags=("streaming", "join", "interval"),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        streaming_events(spark, sf_dir, watermark="2 hours")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        streaming_events(spark, sf_dir, watermark="2 hours")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            c_user = p_user
            AND c_ts >= p_ts - INTERVAL 30 MINUTES
            AND c_ts <= p_ts
            AND event_id != purchase_id
            """
        ),
    ).select("purchase_id", "event_id")
    return run_stream_to_memory(spark, joined, output_mode="append")


@query(
    "stream_incremental_mv",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS value_sum
    FROM events GROUP BY event_type
    """,
    description="Incremental materialized-view maintenance: the events "
    "stream is re-staged as 8 files consumed 2-per-micro-batch "
    "(maxFilesPerTrigger), each batch reduced to partial (count, sum) "
    "aggregates and MERGEd into the running view by key (full-outer "
    "coalesce-sum — the DataFrame form of Delta MERGE INTO), state "
    "checkpointed per batch so lineage stays flat. End state equals the "
    "batch recomputation.",
    tags=("streaming", "incremental", "agg"),
)
def stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from healthcare_etl_pipeline_spark.queries.helpers import t
    from healthcare_etl_pipeline_spark.streaming.incremental import (
        IncrementalAggView,
        maintain_incremental_view,
    )

    # Re-stage the single events file as 8 files so availableNow +
    # maxFilesPerTrigger=2 yields 4 real micro-batches (a one-file source
    # would collapse to a single batch and demonstrate nothing).
    src = scratch_dir("mv_src", sf_dir)
    if not os.path.isdir(src) or not any(
        f.endswith(".parquet") for f in os.listdir(src)
    ):
        t(spark, sf_dir, "events").repartition(8).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    view = IncrementalAggView(["event_type"], "value")
    with tempfile.TemporaryDirectory() as ckpt:
        maintain_incremental_view(stream, view, checkpoint_dir=ckpt)
    assert view.n_batches > 1, "expected multiple micro-batches"
    return view.result().select(
        "event_type", "n", F.round("value_sum", 2).alias("value_sum")
    )


@query(
    "stream_txn_exactly_once",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
    description="Exactly-once streaming ingest into the transactional "
    "warehouse: the events stream runs availableNow through foreachBatch, "
    "each micro-batch committing under a batch_id-keyed transaction "
    "(4 real micro-batches via maxFilesPerTrigger). After the run, batch 0 "
    "is REPLAYED through the same sink — simulating the crash-after-commit "
    "restart — and must be a no-op. The committed table's per-type counts "
    "and value sums must equal the batch recomputation: one duplicated or "
    "lost micro-batch flips the hash.",
    tags=("streaming", "txn", "exactly-once"),
)
def stream_txn_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.queries.helpers import t
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )
    from healthcare_etl_pipeline_spark.streaming.txn_sink import (
        run_stream_to_txn,
        txn_batch_sink,
    )

    src = scratch_dir("txn_stream_src", sf_dir)
    if not os.path.isdir(src) or not any(
        f.endswith(".parquet") for f in os.listdir(src)
    ):
        t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        ).repartition(8).write.mode("overwrite").parquet(src)

    root = scratch_dir("txn_stream_wh", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "event_log",
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )
    wh.create_all()

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    run_stream_to_txn(
        stream,
        wh,
        "event_log",
        checkpoint_dir=os.path.join(root, "_ckpt"),
        batch_prefix="ev",
    )
    n_batches = len(wh.committed_run_ids())
    assert n_batches > 1, "expected multiple micro-batches"

    # Simulate the crash-after-commit restart: the checkpoint never recorded
    # batch 0, so the source replays it — the sink must treat it as done.
    replay = spark.read.parquet(src).limit(50)
    txn_batch_sink(
        wh, lambda txn, df: txn.stage(df, "event_log"), batch_prefix="ev"
    )(replay, 0)
    assert len(wh.committed_run_ids()) == n_batches, "replay must not re-commit"

    return (
        wh.read("event_log")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           e.event_type,
           count(*) AS n,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    description="Stream-static enrichment: the events stream joins the "
    "static customer dimension per micro-batch (broadcast hash join - the "
    "dim is re-resolvable each batch, the streaming side never shuffles "
    "for the join), then aggregates per (segment, event_type). The "
    "standard dimension-enrich shape for streaming pipelines; settled "
    "result value-checked against the batch join.",
    tags=("streaming", "join", "enrich"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.queries.helpers import t

    events = streaming_events(spark, sf_dir, watermark=None)
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("mktsegment")
    )
    enriched = events.join(
        F.broadcast(dim), events.user_id == dim.c_custkey
    )
    agg = enriched.groupBy("mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    # state = (segment x type) keys, ~25 at any scale -> 2 stores
    return run_stream_to_memory(
        spark, agg, output_mode="complete", state_partitions=2
    )


@query(
    "stream_topk_per_window",
    oracle="""
    WITH c AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT window_start, event_type, n,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT window_start, event_type, n, rk FROM r WHERE rk <= 2
    """,
    description="Streaming top-k: tumbling 1h counts maintained "
    "incrementally by the stream (watermark + availableNow), then the "
    "top-2 event types per settled window ranked on the sink table — the "
    "standard two-tier pattern (rank-over-aggregate is not expressible "
    "mid-stream in append mode; the second tier runs on the window-count "
    "table, which is orders of magnitude smaller than the event stream).",
    tags=("streaming", "window", "topk"),
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    stream = streaming_events(spark, sf_dir, watermark="1 hour")
    agg = tumbling_counts(stream)
    settled = run_stream_to_memory(
        spark, agg, output_mode="complete", state_partitions=2
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        settled.select("window_start", "event_type", "n")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
    )


@query(
    "stream_txn_cdc",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
    description="Restartable CDC consumer over the transactional "
    "warehouse: events land in three separate commits; cdc_sync folds each "
    "incremental read_changes window into a derived aggregate view whose "
    "transactional commit IS the checkpoint (batch_id encodes the "
    "processed seq window, so the cursor and the state are one atomic "
    "write — exactly-once with no separate cursor file to drift). Syncs "
    "run interleaved with the source commits, a drained consumer performs "
    "zero work, and the final view must equal the batch recomputation "
    "over all source rows — one double-counted or lost window flips the "
    "hash. Kill-and-restart and vacuum-expiry recovery are exercised in "
    "tests/test_cdc.py.",
    tags=("streaming", "txn", "cdc", "exactly-once", "incremental"),
)
def stream_txn_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.queries.helpers import t
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )
    from healthcare_etl_pipeline_spark.streaming.cdc import cdc_sync

    root = scratch_dir("txn_cdc_wh", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "event_log",
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )
    wh.register_table(
        "event_agg",
        T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("n", T.LongType()),
                T.StructField("value_sum", T.DoubleType()),
            ]
        ),
    )
    wh.create_all()

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    sync = lambda: cdc_sync(  # noqa: E731
        wh, "event_log", "event_agg", group_cols=["event_type"], value_col="value"
    )
    # three source commits with syncs interleaved: the consumer must fold
    # windows incrementally, not recompute from history
    wh.append(ev.filter(F.col("event_id") % 3 == 0), "event_log")
    assert sync() == 1
    wh.append(ev.filter(F.col("event_id") % 3 == 1), "event_log")
    wh.append(ev.filter(F.col("event_id") % 3 == 2), "event_log")
    assert sync() == 1  # one window covering both pending commits
    assert sync() == 0  # drained: current consumer does zero work

    return wh.read("event_agg").select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round("value_sum", 2).alias("total_value"),
    )


@query(
    "stream_txn_cdc_enriched",
    oracle="""
    SELECT CASE CAST(user_id % 4 AS INT) WHEN 0 THEN 'north'
           WHEN 1 THEN 'south' WHEN 2 THEN 'east' ELSE 'west' END AS region,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    description="Incremental maintenance of an ENRICHED view (fact JOIN "
    "dimension, then aggregate): users land in a dimension table, events "
    "arrive as three fact commits, and each CDC sync joins ONLY the fact "
    "delta to the broadcast dimension before folding per-region partials "
    "into the transactional view — Δ(F⋈D) = ΔF⋈D under append-only "
    "atomic ingest, so cost tracks the change, never fact history. Same "
    "commit-is-the-checkpoint exactly-once bookkeeping as stream_txn_cdc. "
    "The final view must equal the batch join-aggregate oracle.",
    tags=("streaming", "txn", "cdc", "incremental", "join"),
)
def stream_txn_cdc_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.queries.helpers import t
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )
    from healthcare_etl_pipeline_spark.streaming.cdc import cdc_sync_enriched

    root = scratch_dir("txn_cdc_en", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "event_log",
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )
    wh.register_table(
        "user_dim",
        T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("region", T.StringType()),
            ]
        ),
    )
    wh.register_table(
        "region_agg",
        T.StructType(
            [
                T.StructField("region", T.StringType()),
                T.StructField("n", T.LongType()),
                T.StructField("value_sum", T.DoubleType()),
            ]
        ),
    )
    wh.create_all()

    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = ev.select("user_id").distinct().select(
        "user_id",
        F.element_at(
            F.array(F.lit("north"), F.lit("south"), F.lit("east"), F.lit("west")),
            (F.col("user_id") % 4).cast("int") + 1,
        ).alias("region"),
    )
    wh.append(dim, "user_dim")
    sync = lambda: cdc_sync_enriched(  # noqa: E731
        wh, "event_log", "user_dim", "region_agg",
        join_key="user_id", group_cols=["region"], value_col="value",
    )
    wh.append(ev.filter(F.col("event_id") % 3 == 0), "event_log")
    assert sync() == 1
    wh.append(ev.filter(F.col("event_id") % 3 == 1), "event_log")
    wh.append(ev.filter(F.col("event_id") % 3 == 2), "event_log")
    assert sync() == 1
    assert sync() == 0

    return wh.read("region_agg").select(
        "region",
        F.col("n").alias("n_events"),
        F.round("value_sum", 2).alias("total_value"),
    )


@query(
    "stream_txn_cdc_multi_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(sum(value) / count(*), 2) AS avg_value,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS users_within_tolerance
    FROM events GROUP BY event_type
    """,
    description="Incremental view maintenance with the full mergeable "
    "algebra: the CDC consumer folds three warehouse commits into a view "
    "carrying count, min, max, avg (sum+count state, finalized on read) "
    "and an HLL approx-distinct whose BINARY SKETCH is the persisted "
    "state — hll_sketch_agg partials hll_union-merged per window, "
    "estimated only at read, so distinct counting never rescans history. "
    "Exact aggregates value-match the batch oracle; the sketch is an "
    "accuracy contract (exact count + within-5%-tolerance boolean).",
    tags=("streaming", "txn", "cdc", "incremental", "sketch"),
)
def stream_txn_cdc_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.operators.incremental_agg import (
        AggSpec,
        finalize_exprs,
    )
    from healthcare_etl_pipeline_spark.queries.helpers import t
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )
    from healthcare_etl_pipeline_spark.streaming.cdc import cdc_sync

    specs = [
        AggSpec("n", "count"),
        AggSpec("min_value", "min", "value"),
        AggSpec("max_value", "max", "value"),
        AggSpec("avg_value", "avg", "value"),
        AggSpec("users", "approx_distinct", "user_id"),
    ]
    root = scratch_dir("txn_cdc_ma", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "event_log",
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )
    wh.register_table(
        "event_agg",
        T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("n", T.LongType()),
                T.StructField("min_value", T.DoubleType()),
                T.StructField("max_value", T.DoubleType()),
                T.StructField("avg_value__sum", T.DoubleType()),
                T.StructField("avg_value__n", T.LongType()),
                T.StructField("users", T.BinaryType()),
            ]
        ),
    )
    wh.create_all()

    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    sync = lambda: cdc_sync(  # noqa: E731
        wh, "event_log", "event_agg",
        group_cols=["event_type"], value_col="value", aggs=specs,
    )
    wh.append(ev.filter(F.col("event_id") % 3 == 0), "event_log")
    assert sync() == 1
    wh.append(ev.filter(F.col("event_id") % 3 == 1), "event_log")
    wh.append(ev.filter(F.col("event_id") % 3 == 2), "event_log")
    assert sync() == 1
    assert sync() == 0

    view = wh.read("event_agg").select(*finalize_exprs(specs, ["event_type"]))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return view.join(exact, "event_type").select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        F.round("avg_value", 2).alias("avg_value"),
        "exact_users",
        (
            F.abs(F.col("users") - F.col("exact_users"))
            <= F.lit(0.05) * F.col("exact_users")
        ).alias("users_within_tolerance"),
    )


@query(
    "stream_txn_cdc_feed",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(CASE WHEN event_id % 7 = 0 THEN value * 2
                          ELSE value END), 2) AS total_value
    FROM events
    WHERE event_id % 5 <> 0
    GROUP BY event_type
    """,
    description="TRUE-incremental CDC under update+delete churn: the "
    "consumer first folds an append window, then the source takes a "
    "copy-on-write UPDATE (value doubled where event_id%7=0) and a "
    "merge-on-read DELETE (event_id%5=0). The appends-only fold rejects "
    "that window (NonAppendChangeError), and cdc_sync applies the NET "
    "row-level change feed instead — update = subtract preimage, add "
    "postimage; delete = subtract preimage — because count/sum is an "
    "invertible algebra. The query asserts NO full-refresh commit was "
    "needed (refresh remains only for min/max/HLL or vacuum-expired "
    "windows) and the view must equal the batch recomputation of the "
    "post-churn snapshot, per the oracle. Cost ∝ churn + |view|, never "
    "source history.",
    tags=("streaming", "txn", "cdc", "change-feed", "incremental"),
)
def stream_txn_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.queries.helpers import t
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )
    from healthcare_etl_pipeline_spark.streaming.cdc import cdc_sync

    root = scratch_dir("txn_cdc_feed", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "event_log",
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
        primary_key=("event_id",),  # enables the row-level change feed
    )
    wh.register_table(
        "event_agg",
        T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("n", T.LongType()),
                T.StructField("value_sum", T.DoubleType()),
            ]
        ),
    )
    wh.create_all()

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    sync = lambda: cdc_sync(  # noqa: E731
        wh, "event_log", "event_agg",
        group_cols=["event_type"], value_col="value",
    )
    wh.append(ev, "event_log")
    assert sync() == 1  # plain append window

    # non-append churn: a rewrite UPDATE and a merge-on-read DELETE
    wh.update_where(
        "event_log", F.col("event_id") % 7 == 0, {"value": F.col("value") * 2}
    )
    wh.delete_where("event_log", F.col("event_id") % 5 == 0)
    assert sync() >= 1
    assert sync() == 0  # drained

    # the whole point: churn was absorbed WITHOUT a full refresh
    feed_prefix = "cdc_event_log_event_agg"
    assert not any(
        r.startswith(f"{feed_prefix}__refresh__")
        for r in wh.committed_run_ids()
    ), "invertible algebra must apply the change feed, not refresh"

    return wh.read("event_agg").select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round("value_sum", 2).alias("total_value"),
    )


@query(
    "stream_pyds_commitlog",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS value_sum
    FROM events
    WHERE event_id % 4 <> 3
    GROUP BY event_type
    """,
    description="The commit log as a FIRST-CLASS Structured Streaming "
    "source (Spark 4 Python Data Source API, sources/pyds.py): stream "
    "offsets ARE snapshot seqs, so each microbatch is a half-open seq "
    "window of append commits and the stream's own offset checkpoint "
    "provides exactly-once consumption with no hand-built cursor. Three "
    "warehouse commits land between two availableNow stream runs sharing "
    "one checkpoint — the second run must pick up EXACTLY the unseen "
    "commits (a re-emitted or lost run flips the hash); the settled sink "
    "aggregate must equal the batch recomputation over the source rows. "
    "Partition = one committed run dir, read as Arrow batches with hive "
    "partition resolution — executors evaluate partitions from file ops "
    "alone.",
    tags=("streaming", "txn", "datasource", "exactly-once"),
)
def stream_pyds_commitlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from healthcare_etl_pipeline_spark.queries.helpers import t
    from healthcare_etl_pipeline_spark.sources import pyds
    from healthcare_etl_pipeline_spark.sources.warehouse import (
        TransactionalWarehouse,
    )

    pyds.register(spark)
    root = scratch_dir("pyds_wh", sf_dir)
    wh = TransactionalWarehouse(spark, root)
    wh.register_table(
        "event_log",
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )
    wh.create_all()

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")

    def drain():
        q = (
            spark.readStream.format("warehouse_commits")
            .option("root", root)
            .option("table", "event_log")
            .option("schema_ddl", "event_id bigint, event_type string, value double")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    wh.append(ev.filter(F.col("event_id") % 4 == 0), "event_log")
    drain()
    wh.append(ev.filter(F.col("event_id") % 4 == 1), "event_log")
    wh.append(ev.filter(F.col("event_id") % 4 == 2), "event_log")
    drain()  # same checkpoint: exactly the two unseen commits

    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


@query(
    "stream_tumbling_counts_rocksdb",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    description="stream_tumbling_counts under the RocksDB state store "
    "provider: window state in native memory + local SST files instead "
    "of on-heap hash maps — the heap-bounded posture for 100 TB key "
    "cardinalities (tools/state_store_bench.py measures the default "
    "provider's heap growing linearly with keys while RocksDB stays "
    "flat). Same batch oracle as the default-provider twin, so the "
    "driver gate proves provider-independence of results.",
    tags=("streaming", "window", "rocksdb"),
)
def stream_tumbling_counts_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.streaming.windows import (
        ROCKSDB_PROVIDER,
    )

    stream = streaming_events(spark, sf_dir, watermark="1 hour")
    agg = tumbling_counts(stream)
    return run_stream_to_memory(
        spark, agg, output_mode="complete",
        state_store_provider=ROCKSDB_PROVIDER,
        state_partitions=2,
    )


@query(
    "stream_session_stateful_rocksdb",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS seq
      FROM flagged
    ), sess AS (
      SELECT user_id, seq,
             CAST(min(ts) AS TIMESTAMP) AS session_start,
             CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
             count(*) AS n_events
      FROM numbered GROUP BY user_id, seq
    )
    SELECT user_id, session_start, session_end, n_events
    FROM sess
    WHERE seq < (SELECT max(s2.seq) FROM sess s2 WHERE s2.user_id = sess.user_id)
       OR session_end <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    """,
    description="stream_session_stateful (applyInPandasWithState + "
    "EventTimeTimeout) under the RocksDB state store provider: the "
    "arbitrary-state escape hatch must produce identical sessions when "
    "its per-key state lives in RocksDB — same oracle as the default-"
    "provider twin.",
    tags=("streaming", "stateful", "sessionize", "pandas-udf", "rocksdb"),
)
def stream_session_stateful_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_pipeline_spark.streaming.stateful import (
        stateful_session_windows,
    )
    from healthcare_etl_pipeline_spark.streaming.windows import (
        ROCKSDB_PROVIDER,
    )

    stream = streaming_events(spark, sf_dir, watermark="1 hour")
    sessions = stateful_session_windows(stream, gap="30 minutes")
    settled = run_stream_to_memory(
        spark, sessions, output_mode="append",
        state_store_provider=ROCKSDB_PROVIDER,
    )
    return settled.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )
