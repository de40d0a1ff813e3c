"""Exactly-once streaming writes into the transactional warehouse.

The canonical Structured-Streaming idempotent-sink recipe: ``foreachBatch``
hands every micro-batch a monotonically increasing ``batch_id`` that is
STABLE across failure/restart replays (it comes from the checkpoint's
offset log). Keying a warehouse transaction by that id makes the sink
exactly-once end-to-end:

- normal flow: batch N stages under run_id ``<prefix>-N`` and commits via
  the warehouse's atomic marker rename;
- crash after commit, before the checkpoint records N: the restart replays
  batch N, ``is_committed`` sees the marker, the replay is a no-op — no
  double write;
- crash mid-stage: the marker never appeared, so the half-staged files are
  invisible; the replay's ``begin(batch_id)`` wipes them and restages.

At scale this is the standard pattern for transactional sinks Spark has no
native connector for; the per-batch work is one distributed write plus one
tiny marker rename, so throughput is governed by the write itself.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from healthcare_etl_pipeline_spark.sources.warehouse import (
    Transaction,
    TransactionalWarehouse,
)


def txn_batch_sink(
    warehouse: TransactionalWarehouse,
    write: Callable[[Transaction, DataFrame], None],
    *,
    batch_prefix: str = "stream",
):
    """Build the ``foreachBatch`` callable: one transaction per micro-batch,
    keyed by the checkpoint-stable batch_id (idempotent under replay).
    ``write(txn, batch_df)`` stages the batch into any number of tables;
    they all commit together."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        run_id = f"{batch_prefix}-{int(batch_id):09d}"
        if warehouse.is_committed(run_id):
            return  # replayed batch after a post-commit crash
        txn = warehouse.begin(run_id)
        try:
            write(txn, batch_df)
        except Exception:
            txn.abort()
            raise
        txn.commit()

    return sink


def run_stream_to_txn(
    stream_df: DataFrame,
    warehouse: TransactionalWarehouse,
    table: str,
    *,
    checkpoint_dir: str,
    batch_prefix: str = "stream",
    output_mode: str = "append",
) -> StreamingQuery:
    """Drive a bounded (availableNow) stream into the warehouse table with
    exactly-once semantics; returns the finished query."""
    q = (
        stream_df.writeStream.foreachBatch(
            txn_batch_sink(
                warehouse,
                lambda txn, df: txn.stage(df, table),
                batch_prefix=batch_prefix,
            )
        )
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
