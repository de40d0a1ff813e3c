"""Persisted, incrementally-maintained MinHash-LSH dedup index.

The batch near-dedup operators (operators/dedup.py) re-shingle the WHOLE
corpus every run — fine for a one-shot job, wrong for the steady state of
a training-data pipeline, where a daily increment (GBs) must dedup against
an accumulated corpus (100 TB). Re-signing the corpus per increment is
O(corpus) CPU over raw text; this module makes it O(increment) by
persisting the corpus's LSH band buckets as a transactional-warehouse
table and maintaining it incrementally:

- **Index layout** — one row per (doc, band): ``(id, bucket)`` where
  ``bucket`` is the band's signature key (``"b<band>:<sig>:<sig>"``, the
  same portable format the oracle SQL builds). ~``bands`` narrow rows per
  document instead of its text: at 100 TB of text the index is ~0.1% of
  the corpus bytes, and the dedup probe reads ONLY the index, never the
  corpus text.
- **Probe plan** — increment docs are shingled/signed (O(increment) CPU),
  their bucket rows are BROADCAST (stats-gated on the measured row count)
  and the index is streamed through a broadcast-hash inner join: no
  shuffle of the index, no re-shingling of the corpus, result is the tiny
  set of increment ids sharing a bucket with any indexed doc. Falls back
  to a plain shuffle join when the increment exceeds the broadcast
  ceiling (AQE still picks broadcast if runtime sizes allow).
- **Greedy survivor rule** — identical semantics to
  ``operators.dedup.dedup_survivors`` (reference-free, SQL-expressible):
  an increment doc is dropped iff it shares a band bucket with an indexed
  corpus doc, OR it is the larger id of a within-increment candidate
  pair. Zero-shingle docs have no buckets (sentinel-filtered, see
  ``_banded_signatures``) and always survive.
- **Atomicity** — survivors' corpus rows and their index rows commit in
  ONE warehouse transaction (idempotent ``batch_id`` retries, crash-safe
  staging): readers never observe a corpus row whose buckets are missing
  from the index, so the next increment's probe is always complete.

This is the text-dedup twin of the persisted IVF-PQ ANN maintenance path
(operators/similarity.py:ivfpq_index_append): signatures are computed
once per document for the lifetime of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_etl_pipeline_spark.operators.cache import bounded_persist
from healthcare_etl_pipeline_spark.operators.dedup import (
    _band_pairs,
    _banded_signatures,
)

#: Broadcast the increment's bucket rows only under this measured row
#: count: ~100 B/row (long id + ~40-char bucket string) keeps 500k rows
#: well inside the session's 64 MB autoBroadcastJoinThreshold. Above it
#: the probe join is left unhinted — AQE's runtime sizes still choose
#: broadcast when the increment is actually small.
BROADCAST_ROW_CEILING = 500_000


def _bucket_string_cols(k: int, bands: int) -> list[Column]:
    """Per-band bucket keys as portable strings ``b<band>:<sig>:...:<sig>``
    — cross-engine comparable (the DuckDB oracle concatenates the same)
    and arity-independent, so one index schema serves any (k, bands)."""
    rows_per_band = k // bands
    return [
        F.concat_ws(
            ":",
            F.lit(f"b{b}"),
            *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)],
        )
        for b in range(bands)
    ]


def bucket_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    hash_mode: str = "portable",
) -> DataFrame:
    """``(id, bucket)`` LSH band-bucket rows for a document frame.

    One signature computation per doc (persisted upstream, see
    ``_banded_signatures``), exploded to ``bands`` narrow rows. Zero-
    shingle docs are excluded (no buckets → can never be a candidate).
    """
    sigs = _banded_signatures(docs, id_col, text_col, k, bands, n, hash_mode)
    return sigs.select(
        F.col(id_col),
        F.explode(F.array(*_bucket_string_cols(k, bands))).alias("bucket"),
    )


def index_schema(id_field: T.StructField) -> T.StructType:
    """Index table schema: the caller's id column + the bucket key."""
    return T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType, False),
            T.StructField("bucket", T.StringType(), False),
        ]
    )


def register_minhash_index(
    wh,
    index_table: str,
    docs: DataFrame,
    id_col: str,
    *,
    docs_table: str | None = None,
) -> None:
    """Declare the index table on the warehouse (additive-evolution safe
    to re-register; same commit protocol as any other table).

    Pass ``docs_table`` (the corpus table the index shadows) to also
    declare the derived-index dependency: GDPR erasure on the corpus
    (``wh.forget`` / ``wh.delete_where``) then removes the forgotten
    docs' band buckets IN THE SAME TRANSACTION — without it, a forgotten
    document's buckets would keep suppressing its future near-duplicates
    from the corpus forever (an erasure leak the base-table rewrite alone
    cannot see)."""
    wh.register_table(index_table, index_schema(docs.schema[id_col]))
    if docs_table is not None:
        wh.register_derived_index(
            index_table, base_table=docs_table, key=(id_col,)
        )


def build_minhash_index(
    wh,
    docs: DataFrame,
    *,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    hash_mode: str = "portable",
    txn,
) -> None:
    """Bootstrap the index over an existing corpus (one signature pass —
    the LAST time the corpus text is ever read by the dedup path).

    The corpus itself is committed as-is (bootstrap does not dedup it;
    run a batch dedup first if the seed corpus needs one). The index rows
    are staged into the caller's ``txn`` (e.g. alongside the corpus rows
    themselves); the caller commits it.
    """
    rows = bucket_rows(docs, id_col, text_col, k=k, bands=bands, n=n, hash_mode=hash_mode)
    txn.stage(rows, index_table)


def novel_against_index(
    wh,
    increment: DataFrame,
    *,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    hash_mode: str = "portable",
    as_of: int | str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split an increment against the persisted index.

    Returns ``(survivors, survivor_bucket_rows)`` — the increment rows
    that are novel under the greedy rule, plus their ready-to-append
    index rows (computed once; the caller stages them in the same txn).

    Physical plan: the increment's bucket rows (small by use-case) probe
    the index via an inner join hinted BROADCAST when the measured bucket
    count is under :data:`BROADCAST_ROW_CEILING` — the index streams
    through the join scan-only (2 narrow columns, no shuffle, no corpus
    text). Within-increment candidates reuse the banded self-join
    (``_band_pairs``: AQE-skew-safe equi-join, never O(n²)).
    """
    inc_buckets = bucket_rows(
        increment, id_col, text_col, k=k, bands=bands, n=n, hash_mode=hash_mode
    ).transform(bounded_persist)

    probe = inc_buckets
    if inc_buckets.count() <= BROADCAST_ROW_CEILING:
        probe = F.broadcast(inc_buckets)
    idx = wh.read(index_table, as_of=as_of).select("bucket")
    hit = (
        idx.join(probe, "bucket", "inner")
        .select(F.col(id_col))
        .distinct()
    )

    inc_sigs = _banded_signatures(increment, id_col, text_col, k, bands, n, hash_mode)
    dominated = (
        _band_pairs(inc_sigs, id_col, k, bands)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )

    dropped = hit.unionByName(dominated).distinct()
    survivors = increment.join(dropped, id_col, "left_anti")
    survivor_rows = inc_buckets.join(dropped, id_col, "left_anti")
    return survivors, survivor_rows


def dedup_increment(
    wh,
    increment: DataFrame,
    *,
    index_table: str,
    docs_table: str | None = None,
    docs_projection: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    hash_mode: str = "portable",
    batch_id: str | None = None,
) -> bool:
    """Dedup one increment against the index and publish the survivors —
    corpus rows (when ``docs_table`` is given) and their index rows in
    ONE atomic commit. Idempotent under ``batch_id`` retries (returns
    False when the batch was already committed; nothing is recomputed).

    Concurrency contract: increments must be SERIALIZED (the scheduler's
    job, same as ivfpq_index_append). Two increments probing the same
    index snapshot concurrently each miss the other's survivors — both
    commits succeed atomically, but a near-dup pair split across them
    would survive twice. Retries of the SAME batch_id are safe at any
    concurrency (exactly one marker wins).
    """
    if batch_id is not None and wh.is_batch_committed(batch_id):
        return False
    survivors, survivor_rows = novel_against_index(
        wh,
        increment,
        index_table=index_table,
        id_col=id_col,
        text_col=text_col,
        k=k,
        bands=bands,
        n=n,
        hash_mode=hash_mode,
    )
    txn = wh.begin(batch_id, operation="minhash-index-append")
    txn.stage(survivor_rows, index_table)
    if docs_table is not None:
        txn.stage(
            survivors.select(*docs_projection) if docs_projection else survivors,
            docs_table,
        )
    return txn.commit()
