"""Persisted, incrementally-maintained embedding-LSH dedup index.

The hyperplane twin of the MinHash band-bucket index
(operators/dedup_index.py), for corpora keyed by an embedding column:
the corpus's random-hyperplane band buckets persist as a transactional-
warehouse table, so a daily increment is signed O(increment), probes the
index via a broadcast equi-join, verifies the surviving candidates with
EXACT cosine against only the candidates' corpus vectors, and commits
survivors + their index rows in one atomic transaction.

Where the two indexes differ — and why this one needs a lifecycle verb
the MinHash one doesn't: MinHash band buckets live in an effectively
unbounded hash space (distinct buckets grow with the corpus, occupancy
stays put), but hyperplane buckets are a FIXED 2^planes per table, so a
corpus that outgrows its plane count concentrates rows into ever-hotter
buckets and the probe's candidate volume turns quadratic — the exact
failure the sf10 rung measured for batch LSH (similarity.py:auto_planes).
Hence:

- **Occupancy trigger** — :func:`needs_rebucket` compares the planes the
  index was built with (persisted in the ``<index>__meta`` table)
  against what :func:`~.similarity.auto_planes` would choose for the
  corpus's CURRENT size; :func:`embedding_dedup_increment` returns the
  flag with every commit so the scheduler sees drift the moment it
  happens — the persisted-index twin of the IVF-PQ drift-triggered
  retrain (similarity.py:ivfpq_retrain_if_drifted).
- **Re-bucket verb** — :func:`rebucket_embedding_index` re-signs the
  corpus vectors at the new plane count and atomically REPLACES the
  index + meta in one commit (readers see old buckets or new buckets,
  never a mix). It is O(corpus) — one vector scan, no text, amortized
  over the growth that triggered it. Dedup DECISIONS are invariant
  under re-bucketing wherever LSH recall holds (verification is exact
  cosine either way); exact-duplicate vectors collide at ANY plane
  count, so the dedup hot case is recall-free by construction.
- **Compaction / erasure** — plain warehouse verbs: ``wh.compact``
  defragments increment-append runs and applies tombstones;
  ``register_derived_index`` (wired by :func:`register_embedding_index`)
  makes GDPR ``forget``/``delete_where`` on the corpus erase the index
  rows in the same transaction.

Dup rule (reference-free, SQL-expressible — the oracle runs it as exact
cosine joins): an increment vector is dropped iff its exact cosine with
an indexed corpus vector reaches ``threshold``, or it is the larger id
of a verified within-increment pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from healthcare_etl_pipeline_spark.operators.cache import bounded_persist
from healthcare_etl_pipeline_spark.operators.dedup_index import (
    BROADCAST_ROW_CEILING,
)
from healthcare_etl_pipeline_spark.operators.similarity import (
    auto_planes,
    dot_fold,
    make_lsh_signatures_udf,
    norm_fold,
)


def _meta_table(index_table: str) -> str:
    return f"{index_table}__meta"


_META_SCHEMA = T.StructType(
    [
        T.StructField("planes", T.IntegerType(), False),
        T.StructField("tables", T.IntegerType(), False),
        T.StructField("seed", T.LongType(), False),
        T.StructField("dim", T.IntegerType(), False),
        T.StructField("threshold", T.DoubleType(), False),
        T.StructField("corpus_n", T.LongType(), False),
    ]
)


def index_schema(id_field: T.StructField) -> T.StructType:
    """Index rows: (id, table ordinal, packed bucket bits) — two narrow
    ints per (doc, table) instead of the vector: at 100 TB of embeddings
    the index is well under 1% of the corpus bytes and the probe never
    reads a corpus vector that isn't a candidate."""
    return T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType, False),
            T.StructField("tbl", T.IntegerType(), False),
            T.StructField("bucket", T.LongType(), False),
        ]
    )


def bucket_rows(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    planes: int,
    tables: int,
    dim: int,
    seed: int,
) -> DataFrame:
    """(id, tbl, bucket) rows — one seeded Arrow matmul per batch,
    posexploded to ``tables`` narrow rows per vector."""
    sig = make_lsh_signatures_udf(planes=planes, tables=tables, dim=dim, seed=seed)
    return df.select(
        F.col(id_col),
        F.posexplode(sig(F.col(vec_col))).alias("tbl", "bucket"),
    )


def register_embedding_index(
    wh,
    index_table: str,
    vectors: DataFrame,
    id_col: str,
    *,
    vectors_table: str | None = None,
) -> None:
    """Declare the index + meta tables; with ``vectors_table`` also wire
    the GDPR derived-index dependency (forget/delete_where on the corpus
    erases the forgotten vectors' buckets in the same transaction)."""
    wh.register_table(index_table, index_schema(vectors.schema[id_col]))
    wh.register_table(_meta_table(index_table), _META_SCHEMA)
    if vectors_table is not None:
        wh.register_derived_index(
            index_table, base_table=vectors_table, key=(id_col,)
        )


def read_meta(wh, index_table: str) -> dict:
    """The index's signing parameters (1 tiny row — driver-side by
    design, same traffic class as IVF centroids)."""
    rows = wh.read(_meta_table(index_table)).collect()
    if len(rows) != 1:
        raise ValueError(
            f"{_meta_table(index_table)!r} must hold exactly one row"
            f" (found {len(rows)}) — build_embedding_index first"
        )
    return rows[0].asDict()


def build_embedding_index(
    wh,
    corpus: DataFrame,
    *,
    index_table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.35,
    planes: int | str = "auto",
    tables: int = 16,
    seed: int = 42,
    target_bucket: int = 1024,
    txn,
) -> int:
    """Bootstrap the index over an existing corpus (one signature pass).

    ``planes="auto"`` sizes the bucket count from the measured corpus
    (see ``auto_planes``) — the plane count is persisted in the meta
    table so every later increment signs with the SAME hyperplanes, and
    :func:`needs_rebucket` can detect when growth has outrun it. The
    index and meta rows are staged into the caller's ``txn``; the caller
    commits it. Returns the plane count used.
    """
    n = corpus.count()
    p = auto_planes(n, target_bucket=target_bucket) if planes == "auto" else planes
    rows = bucket_rows(
        corpus, id_col=id_col, vec_col=vec_col, planes=p, tables=tables,
        dim=dim, seed=seed,
    )
    meta = corpus.sparkSession.createDataFrame(
        [(p, tables, seed, dim, threshold, n)], _META_SCHEMA
    )
    txn.stage(rows, index_table)
    txn.stage(meta, _meta_table(index_table))
    txn.replaces[_meta_table(index_table)] = wh.committed_runs_for(
        _meta_table(index_table)
    )
    return p


def novel_against_embedding_index(
    wh,
    increment: DataFrame,
    *,
    index_table: str,
    corpus_table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    as_of: int | str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split an increment against the persisted index.

    Returns ``(survivors, survivor_bucket_rows)``. Physical plan: the
    increment first COLLAPSES bit-identical vectors to one representative
    (group min id) — the same m²-degeneracy guard the sf10 rung forced on
    batch embedding LSH (similarity.py:embedding_dedup_lsh): only
    representatives are signed (O(distinct increment)), probe the index,
    and verify; decisions expand back exactly because identical vectors
    share every signature and every cosine, and any non-representative
    member is dominated within the increment by its own group min
    (cos=1 ≥ threshold), so representatives are the only possible
    survivors. The representatives' bucket rows probe the index via a
    MEASURED-ceiling broadcast equi-join on (tbl, bucket) — the index
    streams scan-only; candidate (corpus id, rep id) pairs fetch only the
    candidate corpus vectors (ceiling-gated broadcast, shuffle-join
    fallback above it), which are themselves deduped to DISTINCT
    (rep, corpus-vector) pairs before the exact cosine — on a
    duplicate-dense corpus that cuts the verification load by the corpus
    copy-rate. Within-increment domination runs the same banded
    self-join + exact verification over representatives only.
    """
    meta = read_meta(wh, index_table)
    p, tables, seed = meta["planes"], meta["tables"], meta["seed"]
    dim, threshold = meta["dim"], meta["threshold"]

    w_vec = Window.partitionBy(vec_col)
    members = (
        increment.select(F.col(id_col), F.col(vec_col))
        .withColumn("__rep", F.min(id_col).over(w_vec))
        .transform(bounded_persist)
    )
    rep_vecs = (
        members.filter(F.col(id_col) == F.col("__rep"))
        .select(id_col, vec_col)
        .transform(bounded_persist)
    )
    rep_buckets = bucket_rows(
        rep_vecs, id_col=id_col, vec_col=vec_col, planes=p, tables=tables,
        dim=dim, seed=seed,
    ).transform(bounded_persist)

    probe = rep_buckets.withColumnRenamed(id_col, "__rep_id")
    if rep_buckets.count() <= BROADCAST_ROW_CEILING:
        probe = F.broadcast(probe)
    idx = wh.read(index_table, as_of=as_of)
    cand = (
        idx.join(probe, ["tbl", "bucket"], "inner")
        .select(F.col(id_col).alias("__corpus_id"), "__rep_id")
        .distinct()
        .transform(bounded_persist)
    )
    cand_fetch = (
        F.broadcast(cand) if cand.count() <= BROADCAST_ROW_CEILING else cand
    )
    # norms folded once per distinct candidate vector / rep row (AFTER the
    # distinct, so dedup keys are unchanged) instead of inside every pair's
    # cosine — identical doubles, 1 fold per verification pair instead of 3
    cand_vecs = (
        wh.read(corpus_table, as_of=as_of)
        .select(F.col(id_col).alias("__corpus_id"), F.col(vec_col).alias("__cv"))
        .join(cand_fetch, "__corpus_id")
        .select("__rep_id", "__cv")
        .distinct()
        .withColumn("__cn", norm_fold(F.col("__cv"), dim))
    )
    hit_reps = (
        cand_vecs.join(
            rep_vecs.select(
                F.col(id_col).alias("__rep_id"),
                F.col(vec_col).alias("__qv"),
                norm_fold(F.col(vec_col), dim).alias("__qn"),
            ),
            "__rep_id",
        )
        .withColumn(
            "__cos",
            dot_fold(F.col("__qv"), F.col("__cv"), dim)
            / (F.col("__qn") * F.col("__cn")),
        )
        .filter(F.col("__cos") >= threshold)
        .select(F.col("__rep_id").alias("__rep"))
        .distinct()
    )

    l = rep_buckets.select(
        F.col(id_col).alias("__id_a"), "tbl", "bucket"
    )
    r = rep_buckets.select(
        F.col(id_col).alias("__id_b"), "tbl", "bucket"
    )
    within = (
        l.join(r, ["tbl", "bucket"])
        .filter(F.col("__id_a") < F.col("__id_b"))
        .select("__id_a", "__id_b")
        .distinct()
    )
    va = rep_vecs.select(
        F.col(id_col).alias("__id_a"),
        F.col(vec_col).alias("__av"),
        norm_fold(F.col(vec_col), dim).alias("__an"),
    )
    vb = rep_vecs.select(
        F.col(id_col).alias("__id_b"),
        F.col(vec_col).alias("__bv"),
        norm_fold(F.col(vec_col), dim).alias("__bn"),
    )
    dominated_reps = (
        within.join(va, "__id_a")
        .join(vb, "__id_b")
        .withColumn(
            "__cos",
            dot_fold(F.col("__av"), F.col("__bv"), dim)
            / (F.col("__an") * F.col("__bn")),
        )
        .filter(F.col("__cos") >= threshold)
        .select(F.col("__id_b").alias("__rep"))
        .distinct()
    )

    # dropped ids: every member of a hit/dominated rep group, plus every
    # non-representative member (dominated by its group min at cos=1)
    dropped_reps = hit_reps.unionByName(dominated_reps).distinct()
    dropped = (
        members.join(dropped_reps, "__rep", "left_semi")
        .select(id_col)
        .unionByName(
            members.filter(F.col(id_col) != F.col("__rep")).select(id_col)
        )
        .distinct()
    )
    survivors = increment.join(dropped, id_col, "left_anti")
    survivor_rows = rep_buckets.join(dropped, id_col, "left_anti")
    return survivors, survivor_rows


def embedding_dedup_increment(
    wh,
    increment: DataFrame,
    *,
    index_table: str,
    corpus_table: str,
    vectors_projection: list[str] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 1024,
    batch_id: str | None = None,
) -> dict:
    """Dedup one increment against the index and publish survivors'
    corpus rows + index rows in ONE atomic commit (idempotent under
    ``batch_id``, same contract as ``dedup_index.dedup_increment``).

    Returns ``{"committed", "needs_rebucket"}`` — the occupancy flag is
    computed against the post-commit corpus size on every increment, so
    the scheduler learns the moment growth outruns the plane count and
    can run :func:`rebucket_embedding_index` before the probe degrades.
    """
    if batch_id is not None and wh.is_batch_committed(batch_id):
        return {
            "committed": False,
            "needs_rebucket": needs_rebucket(
                wh, index_table, corpus_table, target_bucket=target_bucket
            ),
        }
    survivors, survivor_rows = novel_against_embedding_index(
        wh,
        increment,
        index_table=index_table,
        corpus_table=corpus_table,
        id_col=id_col,
        vec_col=vec_col,
    )
    txn = wh.begin(batch_id, operation="embedding-index-append")
    txn.stage(survivor_rows, index_table)
    txn.stage(
        survivors.select(*vectors_projection) if vectors_projection else survivors,
        corpus_table,
    )
    committed = txn.commit()
    return {
        "committed": committed,
        "needs_rebucket": needs_rebucket(
            wh, index_table, corpus_table, target_bucket=target_bucket
        ),
    }


def needs_rebucket(
    wh,
    index_table: str,
    corpus_table: str,
    *,
    target_bucket: int = 1024,
) -> bool:
    """The occupancy trigger: True when ``auto_planes`` would choose a
    DIFFERENT plane count for the corpus's current size than the index
    was built with — i.e. expected bucket occupancy has drifted past
    (or shrunk far below) the target, and the probe's candidate volume
    is no longer ~n·target/2 per table. One corpus count + one meta row;
    cheap enough to evaluate on every increment."""
    meta = read_meta(wh, index_table)
    n = wh.read(corpus_table).count()
    return auto_planes(n, target_bucket=target_bucket) != meta["planes"]


def bucket_occupancy(wh, index_table: str) -> DataFrame:
    """Per-table occupancy stats (1 row per hash table: bucket count,
    max/avg rows per bucket) — the observability view behind the
    trigger; a max occupancy far above target with ``needs_rebucket``
    False indicates data skew (identical vectors), not plane drift."""
    idx = wh.read(index_table)
    per_bucket = idx.groupBy("tbl", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_bucket.groupBy("tbl").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_occupancy"),
        F.round(F.avg("n"), 2).alias("avg_occupancy"),
    )


def rebucket_embedding_index(
    wh,
    *,
    index_table: str,
    corpus_table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int | str = "auto",
    target_bucket: int = 1024,
    batch_id: str | None = None,
) -> int:
    """Re-sign the corpus at the plane count the CURRENT size calls for
    and atomically replace index + meta in one commit — O(corpus
    vectors), no text, run only when :func:`needs_rebucket` fires.

    Probe-identity: dedup decisions before/after are identical wherever
    LSH recall holds (candidates are verified with exact cosine either
    way, and exact-duplicate vectors collide at any plane count) —
    asserted by tests/test_embedding_index.py. Returns the new plane
    count."""
    meta = read_meta(wh, index_table)
    corpus = wh.read(corpus_table)
    n = corpus.count()
    p = auto_planes(n, target_bucket=target_bucket) if planes == "auto" else planes
    rows = bucket_rows(
        corpus.select(id_col, vec_col),
        id_col=id_col,
        vec_col=vec_col,
        planes=p,
        tables=meta["tables"],
        dim=meta["dim"],
        seed=meta["seed"],
    )
    new_meta = corpus.sparkSession.createDataFrame(
        [(p, meta["tables"], meta["seed"], meta["dim"], meta["threshold"], n)],
        _META_SCHEMA,
    )
    txn = wh.begin(batch_id, operation="embedding-index-rebucket")
    try:
        txn.stage(rows, index_table)
        txn.replaces[index_table] = wh.committed_runs_for(index_table)
        txn.stage(new_meta, _meta_table(index_table))
        txn.replaces[_meta_table(index_table)] = wh.committed_runs_for(
            _meta_table(index_table)
        )
    except Exception:
        txn.abort()
        raise
    txn.commit()
    return p
