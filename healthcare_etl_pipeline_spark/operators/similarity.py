"""Similarity search over embedding columns (driver north-star, SURVEY §2.8).

Two paths:
- **Brute-force cosine top-k** — the correctness baseline: query×corpus
  equi-free join (broadcast the query set), cosine as a sequential
  element-wise fold (bit-identical to the DuckDB oracle's fold), window
  top-k per query. At scale: broadcast Q (queries are few), scan corpus
  once, no shuffle except the final per-query top-k — which AQE keeps tiny
  because row_number is applied after a partial sort.
- **LSH-bucketed ANN** — the scale path: random-hyperplane signatures
  (deterministic, seeded — no stored model), bucket equi-join, exact
  cosine re-rank inside buckets. Recall < 1 by construction; the
  registered queries wrap it in a value-checkable accuracy contract
  (exact top-k sets + an in-plan recall floor).

Kernel policy: signatures, centroid assignment and candidate re-ranks run
as Arrow-batched numpy kernels (one matmul/einsum per batch). Where an
oracle pins the bits, cosine is the sequential ``dot_fold``/``norm_fold``
expression (brute force, near-dup pairs), or the integer-quantized kernel
(``make_cosine_quantized_udf``) whose sums no order can change.
Interpreted HOF folds lose ~10× at runtime, and inlining literals into
codegen folds loses seconds of Catalyst/Janino PLAN time per query — the
Arrow kernel is the only shape cheap at both ends. Every cosine top-k ends
in one tail, ``_top_k_per_query`` (score descending, then id ascending).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from healthcare_etl_pipeline_spark.operators.cache import bounded_persist
from healthcare_etl_pipeline_spark.operators.sampling import pair_bucket

# Hard ceiling on rows any IVF/PQ helper may pull to the driver (centroid
# tables, codebooks, probed-cell sets — all O(n_cells) or O(m·ks) by
# construction, ~KBs at the shipped configs). The ceiling exists so a
# future n_cells/ks config measured in millions fails LOUDLY here instead
# of silently materializing a corpus-sized frame on the driver (guide §5:
# the driver should do almost no data work). 65,536 cells × 64-dim double
# centroids ≈ 32 MB collected — still driver-safe headroom at 16 g.
MAX_DRIVER_INDEX_ROWS = 65_536


def collect_index_rows(df: DataFrame, *, what: str, limit: int | None = None):
    """``df.collect()`` for index-metadata frames, bounded: pulls at most
    ``limit`` rows (LIMIT pushed into the plan, so an oversized frame never
    crosses the wire) and raises if the frame exceeds it."""
    cap = MAX_DRIVER_INDEX_ROWS if limit is None else limit
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: would pull more than {cap} rows to the driver — "
            "an index-metadata frame this large means n_cells/codebook "
            "config has outgrown the driver-side collect pattern; shrink "
            "the cell count or restructure before raising the cap"
        )
    return rows


def dot_fold(a: Column, b: Column, dim: int) -> Column:
    """Sequential dot product over fixed-dim arrays (deterministic order).

    aggregate(sequence(1..dim)) folds left-to-right — the same evaluation
    order as the DuckDB oracle's list_reduce, so doubles match bit-for-bit.
    """
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(dim)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(a, i.cast("int")).cast("double")
        * F.element_at(b, i.cast("int")).cast("double"),
    )


def norm_fold(a: Column, dim: int) -> Column:
    return F.sqrt(dot_fold(a, a, dim))


def cosine_fold(a: Column, b: Column, dim: int) -> Column:
    return dot_fold(a, b, dim) / (norm_fold(a, dim) * norm_fold(b, dim))


def _top_k_per_query(
    scored: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    score: Column | None = None,
) -> DataFrame:
    """The one top-k tail: rank each ``q_id``'s scored rows by ``cos_sim``
    descending, ties to the lower ``id_col``, and keep ranks ``<= k``.

    Output: q_id, ``id_col``, ``score`` (default ``cos_sim`` rounded to
    6 dp), rank.
    """
    if score is None:
        score = F.round("cos_sim", 6).alias("cos_sim")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, score, "rank")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Exact cosine top-k neighbors of each query vector.

    Output: q_id, vec_id, cos_sim (rounded 6dp), rank (ties → lower vec_id).
    The query side is broadcast — the corpus never shuffles for the join.

    Per-pair arithmetic: each side's L2 norm is computed ONCE per input row
    (a projection below the cross join), not once per (query, corpus) pair —
    the norm is a pure deterministic fold of that side's vector alone, so
    evaluating it earlier yields the identical double and cos_sim =
    dot/(q_norm·c_norm) is bit-for-bit what the inline cosine computed,
    while the dominant corpus×|Q| stage drops from 3 fold passes per pair
    to 1 (the norm terms for a 10-query broadcast were re-folding every
    corpus vector 10×).
    """
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm_fold(F.col(vec_col), dim).alias("__q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
        norm_fold(F.col(vec_col), dim).alias("__c_norm"),
    )
    cos = dot_fold(F.col("q_vec"), F.col("c_vec"), dim) / (
        F.col("__q_norm") * F.col("__c_norm")
    )
    scored = F.broadcast(q).crossJoin(c).withColumn("cos_sim", cos)
    return _top_k_per_query(scored, k)


def label_centroids(
    corpus: DataFrame,
    *,
    cell_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-cell centroid vectors, computed distributed (posexplode → avg).

    Output: (cell, centroid: array<double>). The coarse quantizer for IVF —
    here seeded from an existing partition column instead of k-means
    iterations, so the whole operator stays deterministic and single-pass.
    At scale this is one shuffle of (cell, pos, partial-sum) triples.
    """
    return (
        corpus.select(
            F.col(cell_col).alias("cell"),
            F.posexplode(F.col(vec_col)).alias("pos", "component"),
        )
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("component").cast("double")).alias("avg_c"))
        .groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "avg_c"))
            ).getField("avg_c").alias("centroid")
        )
    )


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid cells — MAP-ONLY.

    The k centroids (k ≪ corpus) are collected once (k tiny rows, same
    driver-traffic class as k-means) and travel to executors inside an
    Arrow-batched kernel's closure: per-batch cell similarity is one numpy
    matmul against the pre-normalized k×dim centroid matrix, with the
    top-``nprobe`` cells picked by (−sim, centroid order) lexsort — cells
    enter the matrix sorted, so the tie-break (sim desc, cell asc) is
    deterministic. No crossJoin, no window, no Exchange: the round-2 form
    shuffled the whole n×k frame through a partitionBy(id) window just to
    take an argmin — at 100 TB a full-corpus shuffle where a scan suffices.
    (A previous revision inlined the k×dim centroid literals into a codegen
    fold — also map-only, but the ~k·dim-node expression tree cost seconds
    of Catalyst/Janino work PER QUERY; planning cost is part of the plan.)

    Same closure-broadcast pattern as the k-means assignment kernel
    (clustering.py); at real cluster scale wrap the centroid matrix in
    ``sparkContext.broadcast`` instead of a plain closure capture.
    """
    import numpy as np

    cell_type = centroids.schema["cell"].dataType
    cent_rows = sorted(
        (r["cell"], list(r["centroid"]))
        for r in collect_index_rows(
            centroids.select("cell", "centroid"), what="assign_cells centroids"
        )
    )
    if not cent_rows:
        return df.select(
            F.col(id_col), F.col(vec_col), F.lit(None).cast(cell_type).alias("cell")
        ).where(F.lit(False))
    cells = [c for c, _ in cent_rows]
    cmat = np.array([v for _, v in cent_rows], dtype=np.float64)  # k × dim
    cnorms = np.linalg.norm(cmat, axis=1)
    cnorms[cnorms == 0.0] = 1.0
    cmat_n = cmat / cnorms[:, None]
    n_out = min(nprobe, len(cells))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _top_cells(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # n × dim
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (m / norms[:, None]) @ cmat_n.T  # n × k
        if n_out == 1:
            idx = sims.argmax(axis=1)[:, None]  # first max = lowest cell idx
        else:
            order = np.argsort(-sims, axis=1, kind="stable")  # ties → cell asc
            idx = order[:, :n_out]
        return pd.Series([row.tolist() for row in idx])

    cell_lookup = F.array(*[F.lit(c).cast(cell_type) for c in cells])
    picked = df.select(
        F.col(id_col), F.col(vec_col), _top_cells(F.col(vec_col)).alias("__ci")
    )
    if n_out == 1:
        return picked.select(
            F.col(id_col),
            F.col(vec_col),
            F.element_at(cell_lookup, F.col("__ci")[0] + 1).alias("cell"),
        )
    return picked.select(
        F.col(id_col), F.col(vec_col), F.explode("__ci").alias("__i")
    ).select(
        id_col,
        vec_col,
        F.element_at(cell_lookup, F.col("__i") + 1).alias("cell"),
    )


def ann_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    k: int = 5,
    dim: int = 64,
    nprobe: int = 3,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into cells,
    probe each query's ``nprobe`` nearest cells, exact re-rank inside.

    The 100 TB shape: corpus cell assignment is write-time work (stored
    partitioned by cell → partition pruning per query); the query-time join
    touches only probed cells, replacing the full scan with |probed|/|cells|
    of the data.
    """
    # both assign_cells calls collect the same k centroids — persist so the
    # centroid aggregation runs once
    cents = label_centroids(
        corpus, cell_col=cell_col, vec_col=vec_col, dim=dim
    ).transform(bounded_persist)
    c_cells = assign_cells(
        corpus, cents, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=1
    ).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"), "cell")
    q_cells = assign_cells(
        queries, cents, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=nprobe
    ).select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "cell")
    scored = q_cells.join(c_cells, "cell").withColumn(
        "cos_sim", cosine_vectorized(F.col("q_vec"), F.col("c_vec"))
    )
    return _top_k_per_query(scored, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (keep_id, dup_id, cos_sim)
    for all id_a < id_b with cosine ≥ threshold.

    This is the exact O(n²) form used for oracle checking; at 100 TB run the
    same re-rank behind the banded-LSH prefilter (``embedding_dedup_lsh``)
    instead of the full self-join.

    Shape note: the id-pair space is generated by an id-only nested-loop
    join and the vectors are attached afterwards via equi-joins, with the
    cosine filter applied ABOVE them. Putting the cosine fold directly in a
    filter over the vector-carrying BNLJ lets Catalyst push it into the join
    condition, where Spark 4.1's complex-condition extraction mis-binds the
    left-side vector attribute against the build side
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) — keep folds out of non-equi join
    conditions.
    """
    # Norms are folded ONCE per input row here (n rows) instead of inside
    # the per-pair cosine (n²/2 pairs): same deterministic norm_fold
    # expression, evaluated in the pre-join projection, so cos_sim is
    # bit-identical while the pair stage does 1 fold instead of 3.
    a = df.select(
        F.col(id_col).alias("keep_id"),
        F.col(vec_col).alias("a_vec"),
        norm_fold(F.col(vec_col), dim).alias("__a_norm"),
    )
    b = df.select(
        F.col(id_col).alias("dup_id"),
        F.col(vec_col).alias("b_vec"),
        norm_fold(F.col(vec_col), dim).alias("__b_norm"),
    )
    ids = a.select("keep_id").join(
        b.select("dup_id"), F.col("keep_id") < F.col("dup_id")
    )
    cos = dot_fold(F.col("a_vec"), F.col("b_vec"), dim) / (
        F.col("__a_norm") * F.col("__b_norm")
    )
    return (
        ids.join(a, "keep_id")
        .join(b, "dup_id")
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("keep_id", "dup_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


def quantize_int8(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v|/127,
    q_i = round_half_up(v_i / scale) ∈ [-127, 127].

    The storage/serving form for embedding corpora: 4× smaller than fp32,
    reconstruction error ≤ scale/2 per component. Expression-only, zero
    shuffle; rounding is pinned to floor(x + 0.5) so the arithmetic is
    reproducible across engines (engine-native round() differs on .5 ties).

    Output: (id, scale rounded 9dp, qvec array<int>, max_abs_err rounded
    9dp) — max_abs_err = max_i |q_i·scale − v_i| certifies the bound.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0)).otherwise(F.lit(1.0))
    with_scale = df.select(
        F.col(id_col), v.alias("__v"), scale.alias("__scale")
    ).transform(bounded_persist)  # boundary: scale feeds every element
    q = F.transform(
        F.col("__v"),
        lambda x: F.floor(x / F.col("__scale") + F.lit(0.5)).cast("int"),
    )
    out = with_scale.select(
        F.col(id_col), F.col("__scale"), q.alias("qvec"), F.col("__v")
    ).transform(bounded_persist)  # boundary: qvec read by the error fold
    err = F.array_max(
        F.zip_with(
            F.col("qvec"),
            F.col("__v"),
            lambda qi, vi: F.abs(qi.cast("double") * F.col("__scale") - vi),
        )
    )
    return out.select(
        F.col(id_col),
        F.round("__scale", 9).alias("scale"),
        "qvec",
        F.round(err, 9).alias("max_abs_err"),
    )


def auto_planes(
    n_rows: int, *, target_bucket: int = 1024, lo: int = 2, hi: int = 16
) -> int:
    """Bucket-occupancy-driven hyperplane count for banded LSH.

    At FIXED planes the per-table bucket count is a constant 2^planes, so
    bucket population grows linearly with the corpus and the band join's
    candidate volume grows QUADRATICALLY — the sf10 rung measured
    planes=2 (4 buckets/table) turning a 30 s query into an ~80-billion-
    candidate plan. Sizing planes ≈ log2(n / target_bucket) keeps the
    expected bucket population near ``target_bucket``, so candidate
    volume stays ~n·target/2 per table — linear in n.

    Recall trade (callers at MODERATE thresholds must compensate with
    ``tables``): a true pair at angle θ collides per table with prob
    (1-θ/π)^planes. For the dedup hot case — identical or near-identical
    vectors — collisions survive ANY plane count (equal signatures), so
    auto sizing is recall-free exactly where dedup needs it.
    """
    import math

    if n_rows <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket))))


def embedding_dedup_lsh(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.35,
    planes: int | str = 2,
    tables: int = 16,
    seed: int = 42,
    collapse_exact: bool = True,
    pair_sample_mod: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs behind a banded-LSH prefilter — the
    production form of ``cosine_near_dup_pairs``.

    Candidate generation: seeded random-hyperplane signatures (numpy matmul
    over Arrow batches), ``tables`` independent tables of ``planes`` bits;
    docs sharing ANY (table, bucket) become candidates via an equi-join —
    the O(n²) self-join never materializes. The band join shuffles only
    (id, table, bucket) triples; the deduped candidate pairs re-attach
    their vectors afterwards, so vector bytes never ride the ×tables
    explode. Re-rank + threshold on the deduped candidate set use the
    sequential ``dot_fold``/``norm_fold`` cosine (bit-identical to the
    oracle's fold).

    Few planes + many tables ⇒ high recall at moderate thresholds: a pair at
    cosine θ collides per table with prob (1-θ/π)^planes, misses all tables
    with (1-(1-θ/π)^planes)^tables — at threshold 0.35, planes=2, tables=16
    the miss probability is ~5e-4 per pair (and recall is exhaustively
    verified = 1.0 on the oracle corpus, see tests + the registered query's
    value oracle). Tune tables up for stricter recall, planes up for bigger
    corpora (smaller buckets) — or pass ``planes="auto"`` to size them from
    the measured corpus (one count; see :func:`auto_planes`), the scale-safe
    posture: fixed planes make candidate volume quadratic in corpus size.

    ``collapse_exact`` (default on) groups bit-identical vectors to one
    representative BEFORE the LSH pipeline and expands pairs afterwards —
    output-identical by construction (identical vectors share every
    signature, so id-level candidacy ⟺ representative-level candidacy,
    and every expanded pair's cosine is computed from the same vectors by
    the same fold). This is the m²-degeneracy guard the sf10 rung forced:
    a corpus with m-way exact-duplicate vectors otherwise multiplies every
    representative-level candidate by m² at the id level (measured ~500M
    candidate pairs × vector payload through the re-attach shuffle = disk
    exhaustion), while collapsed it runs LSH on the distinct vectors and
    the expansion emits exactly the true output rows.

    ``pair_sample_mod``: keep only pairs whose portable pair-bucket
    (:func:`~healthcare_etl_pipeline_spark.operators.sampling.pair_bucket`)
    is ≡ 0 mod this value — the bounded DIAGNOSTIC form of pair listing.
    Full enumeration is Θ(true pairs), quadratic in duplicate density by
    definition (the sf100 rung measured ~1e9 true pairs exhausting spill
    space at 1000-way copy clusters, while the survivors/index forms stay
    linear); the sampled listing is a pure function of the two ids, so it
    is exactly reproducible by an oracle (exact marginal rate 1/mod, with
    BOTH ids multiplicatively mixed so the kept set is decorrelated from
    id arithmetic within consecutive-id copy clusters), and the
    filter lands BEFORE the pair-dedup exchange — candidate emission
    streams through it, cutting the shuffle and the output by the same
    factor. The dedup DECISION paths (survivors, persisted index) remain
    the production form; this bounds what a human or evaluator can pull.
    """
    if collapse_exact:
        w_vec = Window.partitionBy(vec_col)
        members = (
            df.select(F.col(id_col), F.col(vec_col))
            .withColumn("__rep", F.min(id_col).over(w_vec))
            .withColumn("__csize", F.count(F.lit(1)).over(w_vec))
            .transform(bounded_persist)
        )
        reps = members.filter(F.col(id_col) == F.col("__rep"))
        rep_pairs = embedding_dedup_lsh(
            reps.select(id_col, vec_col),
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            threshold=threshold,
            planes=planes,
            tables=tables,
            seed=seed,
            collapse_exact=False,
        )
        cos_self = cosine_fold(F.col(vec_col), F.col(vec_col), dim)
        self_pairs = (
            reps.filter(F.col("__csize") >= 2)
            .select(
                F.col(id_col).alias("keep_rep"),
                F.col(id_col).alias("dup_rep"),
                F.round(cos_self, 6).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
        all_rep_pairs = rep_pairs.select(
            F.col("keep_id").alias("keep_rep"),
            F.col("dup_id").alias("dup_rep"),
            "cos_sim",
        ).unionByName(self_pairs)
        ma = members.select(
            F.col("__rep").alias("keep_rep"), F.col(id_col).alias("__ida")
        )
        mb = members.select(
            F.col("__rep").alias("dup_rep"), F.col(id_col).alias("__idb")
        )
        expanded = (
            all_rep_pairs.join(ma, "keep_rep")
            .join(mb, "dup_rep")
            .filter(F.col("__ida") != F.col("__idb"))
            .select(
                F.least("__ida", "__idb").alias("keep_id"),
                F.greatest("__ida", "__idb").alias("dup_id"),
                "cos_sim",
            )
        )
        if pair_sample_mod:
            # applied in the expansion stage itself: the m² id-level rows
            # die here, before the pair-dedup exchange
            expanded = expanded.filter(
                pair_bucket("keep_id", "dup_id") % pair_sample_mod == 0
            )
        return expanded.dropDuplicates(["keep_id", "dup_id"])
    if planes == "auto":
        planes = auto_planes(df.count())
    sig_udf = make_lsh_signatures_udf(planes=planes, tables=tables, dim=dim, seed=seed)
    # Checkpointed: the Arrow-batched signature matmul feeds BOTH sides of
    # the self-join; the boundary also sidesteps self-join attribute
    # ambiguity. (bounded_persist: plan-matched reuse, LRU-capped eviction.)
    # Skinny band join: only (id, table, bucket) triples shuffle; the
    # deduped candidate pairs re-attach vectors via two equi-joins — two
    # extra shuffles, but a ×tables cut in shuffled vector bytes.
    base = df.select(
        F.col(id_col), F.col(vec_col), sig_udf(F.col(vec_col)).alias("__sigs")
    ).transform(bounded_persist)
    sigs = base.select(F.col(id_col), F.posexplode("__sigs").alias("table", "bucket"))
    l, r = sigs.alias("l"), sigs.alias("r")
    pair_ids = (
        l.join(
            r,
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("keep_id"),
            F.col(f"r.{id_col}").alias("dup_id"),
        )
    )
    if pair_sample_mod:
        pair_ids = pair_ids.filter(
            pair_bucket("keep_id", "dup_id") % pair_sample_mod == 0
        )
    pair_ids = pair_ids.dropDuplicates(["keep_id", "dup_id"])
    # each row's norm is folded ONCE here (pre-join projection; same
    # deterministic norm_fold expression → identical doubles) instead of
    # re-folding both norms inside every candidate pair's cosine
    vecs = base.select(
        F.col(id_col), F.col(vec_col), norm_fold(F.col(vec_col), dim).alias("__norm")
    )
    candidates = pair_ids.join(
        vecs.select(
            F.col(id_col).alias("keep_id"),
            F.col(vec_col).alias("a_vec"),
            F.col("__norm").alias("__a_norm"),
        ),
        "keep_id",
    ).join(
        vecs.select(
            F.col(id_col).alias("dup_id"),
            F.col(vec_col).alias("b_vec"),
            F.col("__norm").alias("__b_norm"),
        ),
        "dup_id",
    )
    cos = dot_fold(F.col("a_vec"), F.col("b_vec"), dim) / (
        F.col("__a_norm") * F.col("__b_norm")
    )
    return (
        candidates.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("keep_id", "dup_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


@F.pandas_udf(T.DoubleType())
def cosine_vectorized(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine: one einsum per batch instead of interpreted
    per-element folds. Use for re-ranking large candidate sets; use
    ``cosine_fold`` when bit-identical cross-engine values are required."""
    import numpy as np

    ma = np.stack(a.to_numpy()).astype(np.float64)
    mb = np.stack(b.to_numpy()).astype(np.float64)
    dots = np.einsum("ij,ij->i", ma, mb)
    norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        return pd.Series(dots / norms)


def make_lsh_signatures_udf(*, planes: int, tables: int, dim: int, seed: int = 42):
    """Arrow-vectorized signature kernel: one matmul per batch.

    Random-hyperplane signing is a matrix multiply (batch×dim @ dim×(p·t)),
    which a Spark expression would evaluate as interpreted per-element
    lambda folds (higher-order functions are CodegenFallback — ~10µs/step);
    numpy does the same arithmetic ~1000× faster. The ±1 plane matrix is seeded,
    so signatures are deterministic across runs and executors.

    Returns a pandas UDF: array<float> -> array<bigint> (one signature per
    hash table).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    signs = rng.choice([-1.0, 1.0], size=(dim, planes * tables)).astype(np.float64)
    weights = (1 << np.arange(planes, dtype=np.int64))  # bit packing per table

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sigs(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)          # n × dim
        bits = (m @ signs) >= 0.0                                  # n × (p·t)
        per_table = bits.reshape(len(m), tables, planes)           # n × t × p
        sigs = (per_table * weights).sum(axis=2).astype(np.int64)  # n × t
        return pd.Series(list(sigs))

    return _sigs


def make_cosine_quantized_udf(*, scale: int = 1_000_000):
    """Arrow-vectorized cosine over integer-QUANTIZED vectors — fast (one
    int64 einsum per batch) and bit-identical to any SQL engine running the
    same formula.

    The trick: quantize each component to floor(v*scale + 0.5); dot and
    norms are then INTEGER sums — exact, so summation order (numpy SIMD vs
    a sequential SQL fold) cannot change them. The final
    double(dot)/(sqrt(nq)·sqrt(nc)) is a fixed sequence of exactly-rounded
    IEEE ops on exactly-representable inputs (|dot| ≤ 64·(scale·|v|)² ≈
    1.6e13 < 2^53), hence identical everywhere. Values differ from the true
    float cosine by O(1/scale) — disclosed, and symmetric across engines.
    """
    import numpy as np

    @F.pandas_udf(T.DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.floor(
            np.stack(a.to_numpy()).astype(np.float64) * scale + 0.5
        ).astype(np.int64)
        mb = np.floor(
            np.stack(b.to_numpy()).astype(np.float64) * scale + 0.5
        ).astype(np.int64)
        dots = np.einsum("ij,ij->i", ma, mb).astype(np.float64)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma).astype(np.float64))
        nb = np.sqrt(np.einsum("ij,ij->i", mb, mb).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(dots / (na * nb))

    return _cos


def portable_plane_signs(
    *, planes: int, tables: int, dim: int, salt: str = "lsh-v1"
) -> list[list[int]]:
    """±1 hyperplane sign matrix derived from md5 of "salt:t:p:i" — fixed
    CONSTANTS reproducible in any engine or language (the same trick as
    operators/text.py's portable hash, applied at plan-build time: no
    runtime hashing anywhere). Row order is t*planes + p; one row per
    (table, plane), ``dim`` entries each."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{salt}:{t}:{p}:{i}".encode()).hexdigest()[:15], 16
            )
            & 1
            else -1
            for i in range(dim)
        ]
        for t in range(tables)
        for p in range(planes)
    ]


def make_portable_lsh_signatures_udf(
    *,
    planes: int,
    tables: int,
    dim: int,
    scale: int = 1_000_000,
    salt: str = "lsh-v1",
):
    """Arrow-vectorized signature kernel whose every sign decision is EXACT
    integer arithmetic — bit-identical to a SQL oracle running the same
    formula.

    Floating-point dot products are order-sensitive (numpy's SIMD matmul
    sums in a different order than a sequential SQL fold), and hyperplane
    LSH thresholds at dot==0 — exactly where reorderings flip signs. So
    vectors are first quantized to integers (floor(v*scale + 0.5), the
    round-half-up both engines express identically) and the plane dot is an
    int64 matmul against the ±1 ``portable_plane_signs`` matrix: no FP
    anywhere near the sign decision. 64 dims × |v|<10 × 1e6 scale keeps
    every partial sum far inside int64.
    """
    import numpy as np

    signs = np.array(
        portable_plane_signs(planes=planes, tables=tables, dim=dim, salt=salt),
        dtype=np.int64,
    ).T  # dim × (tables·planes)
    weights = 1 << np.arange(planes, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sigs(vecs: pd.Series) -> pd.Series:
        m = np.floor(
            np.stack(vecs.to_numpy()).astype(np.float64) * scale + 0.5
        ).astype(np.int64)
        bits = (m @ signs) >= 0
        per_table = bits.reshape(len(m), tables, planes)
        sigs = (per_table * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(sigs))

    return _sigs


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    planes: int = 4,
    tables: int = 8,
    seed: int = 42,
    sig_col: str | None = None,
    quantized_scale: int | None = None,
) -> DataFrame:
    """Approximate top-k via banded LSH: a corpus vector is a candidate for
    a query when they share a bucket in ANY of ``tables`` hash tables of
    ``planes`` seeded hyperplanes each (numpy matmul via Arrow batches).
    Candidates are deduped per (q_id, vec_id) before the re-rank, so the
    cosine runs once per candidate pair however many tables collide.

    Stage economy (the 100 TB shape AND the job-floor shape):
    - Signatures are the ONLY Python stage. When ``sig_col`` names a
      pre-computed array<bigint> signature column (e.g. both sides filtered
      from one signed+persisted frame), there is NO Python stage here.
    - The bucket join moves only (id, table, bucket) triples — vectors are
      NOT duplicated through the ×tables posexplode; they re-attach to the
      deduped candidate pairs via a broadcast (query side, small by
      assumption) and an equi-join (corpus side, AQE-planned).
    - Re-rank uses the Arrow einsum kernel (``cosine_vectorized``): one
      batched matmul per task. (An explicit dim-term codegen fold was
      measured as the alternative — runtime-free of Python, but the
      ~3·dim-node expression tree costs >1 s of Catalyst/Janino work per
      query, which dominates until candidate sets reach millions of rows.)
      With ``quantized_scale`` it is the integer-quantized kernel
      (``make_cosine_quantized_udf``) instead, and the score column is
      ``cos_sim_e6`` = floor(cos·1e6 + 0.5): cross-engine exact.
    """
    sig_expr = (
        F.col(sig_col)
        if sig_col is not None
        else make_lsh_signatures_udf(
            planes=planes, tables=tables, dim=dim, seed=seed
        )(F.col(vec_col))
    )

    def sig(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(name),
            F.posexplode(sig_expr).alias("table", "bucket"),
        )

    q_vecs = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c_vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    candidates = (
        sig(corpus, "vec_id")
        .join(F.broadcast(sig(queries, "q_id")), ["table", "bucket"])
        .select("q_id", "vec_id")
        .dropDuplicates(["q_id", "vec_id"])
    )
    if quantized_scale is not None:
        # vectorized AND cross-engine exact (integer sums; see factory doc)
        cos = make_cosine_quantized_udf(scale=quantized_scale)(
            F.col("q_vec"), F.col("c_vec")
        )
        # floor(x*1e6 + 0.5) on bit-identical doubles is exactly defined —
        # unlike ROUND(double, 6), whose half-way behavior differs between
        # engines (observed 1-ulp disagreements at the 6th decimal)
        out_score = (
            F.floor(F.col("cos_sim") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("cos_sim_e6")
        )
    else:
        cos = cosine_vectorized(F.col("q_vec"), F.col("c_vec"))
        out_score = None
    scored = (
        candidates.join(F.broadcast(q_vecs), "q_id")
        .join(c_vecs, "vec_id")
        .withColumn("cos_sim", cos)
    )
    return _top_k_per_query(scored, k, score=out_score)


# ---------------------------------------------------------------------------
# Signed random projection (Johnson-Lindenstrauss dimensionality reduction)
# ---------------------------------------------------------------------------

_RP_MOD = 1_000_000_007
_RP_MIX = 2654435761


def random_projection_signs(
    out_dim: int, in_dim: int, salt: int = 7
) -> list[list[int]]:
    """Deterministic ±1 projection matrix, derived arithmetically from
    (row, col) — no stored model, no RNG state, identical on every
    executor, every engine, every rerun.

    Rademacher entries (±1 with equal probability) satisfy the JL lemma
    like Gaussian entries do (Achlioptas 2001) and cost one multiply-add
    per term. The matrix is generated at PLAN-BUILD time and inlined as
    literal coefficients, so the projection compiles into whole-stage
    codegen (a pure arithmetic expression per output dimension) and the
    DuckDB oracle inlines the very same constants.
    """
    return [
        [
            1 if ((i * in_dim + j) * _RP_MIX + salt) % _RP_MOD % 2 == 0 else -1
            for j in range(in_dim)
        ]
        for i in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    out_dim: int = 16,
    in_dim: int = 64,
    salt: int = 7,
) -> DataFrame:
    """Project ``in_dim``-d embeddings to ``out_dim`` dims: p_i = (1/√in_dim)
    · Σ_j sign(i,j)·v_j, rounded to 6 dp.

    Distances are preserved within (1±ε) per Johnson-Lindenstrauss — the
    standard pre-step before clustering / ANN when 100 TB of 1k-d vectors
    won't fit the downstream index. Per-row projection, zero shuffle,
    whole-stage codegen (the ±1 matrix is inlined literal arithmetic —
    left-to-right addition, bit-identical to the oracle's + chain).
    """
    signs = random_projection_signs(out_dim, in_dim, salt)
    scale = float(in_dim) ** 0.5
    v = F.col(vec_col)
    cols = []
    for i in range(out_dim):
        term = None
        for j in range(in_dim):
            e = F.element_at(v, j + 1).cast("double")
            t = e if signs[i][j] == 1 else -e
            term = t if term is None else term + t
        cols.append(F.round(term / F.lit(scale), 6).alias(f"p{i}"))
    return df.select(F.col(id_col), *cols)


def random_projection_oracle_sql(
    out_dim: int = 16, in_dim: int = 64, salt: int = 7,
    id_col: str = "vec_id", vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """DuckDB SQL computing the identical projection (same inlined signs,
    same left-to-right addition, same rounding)."""
    signs = random_projection_signs(out_dim, in_dim, salt)
    scale = float(in_dim) ** 0.5
    outs = []
    for i in range(out_dim):
        terms = " + ".join(
            ("" if signs[i][j] == 1 else "-")
            + f"CAST({vec_col}[{j + 1}] AS DOUBLE)"
            for j in range(in_dim)
        )
        outs.append(f"round(({terms}) / {scale!r}, 6) AS p{i}")
    return f"SELECT {id_col}, " + ", ".join(outs) + f" FROM {table}"


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int = 64,
) -> None:
    """Materialize the IVF index: corpus written PARTITIONED BY cell, plus
    the centroid table alongside.

    This is the "cell assignment is write-time work" claim made concrete:
    at query time the probed cells become a partition-pruning isin filter —
    the scan lists only |probed|/|cells| of the files and never opens the
    rest. Rebuild on centroid drift the way any vector index is refreshed.
    """
    cents = label_centroids(
        corpus, cell_col=cell_col, vec_col=vec_col, dim=dim
    ).transform(bounded_persist)
    assigned = assign_cells(
        corpus, cents, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=1
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(index_dir)
    cents.write.mode("overwrite").parquet(index_dir + ".centroids")


def ann_ivf_from_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    nprobe: int = 3,
) -> DataFrame:
    """ANN top-k served FROM the persisted index: assign each query to its
    ``nprobe`` cells, then scan ONLY those cells' partitions (isin on the
    partition column → pruning at file-listing time), exact re-rank inside.
    """
    cents = spark.read.parquet(index_dir + ".centroids")
    q_cells = assign_cells(
        queries, cents, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=nprobe
    ).select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "cell")
    probed = sorted(
        {
            r["cell"]
            for r in collect_index_rows(
                q_cells.select("cell").distinct(), what="ann_ivf probed cells"
            )
        }
    )
    corpus = (
        spark.read.parquet(index_dir)
        .filter(F.col("cell").isin(probed))
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"), "cell")
    )
    scored = q_cells.join(corpus, "cell").withColumn(
        "cos_sim", cosine_vectorized(F.col("q_vec"), F.col("c_vec"))
    )
    return _top_k_per_query(scored, k)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ, the FAISS-style 100 TB ANN memory story)
# ---------------------------------------------------------------------------


def pq_seed_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
) -> list:
    """Deterministic seed codebooks: subspace ``j`` of the ``ks``
    smallest-id vectors (the same smallest-ids seeding convention as the
    k-means contract query, so the oracle can rebuild them in SQL).
    Returns ``m`` numpy arrays of shape (ks, dim/m) — k·dim doubles, the
    only driver traffic in the whole PQ family."""
    import numpy as np

    sub = dim // m
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(ks)
        .collect()
    )
    if not rows:
        raise ValueError("PQ codebooks need a non-empty corpus")
    seeds = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    return [seeds[:, j * sub : (j + 1) * sub].copy() for j in range(m)]


def pq_train_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    iters: int = 2,
) -> list:
    """Lloyd-refine the seed codebooks per subspace: each round is ONE
    corpus scan — a fused Arrow kernel assigns every subvector to its
    nearest codeword (same −2·x·bᵀ+‖b‖² argmin as :func:`pq_encode`, ties
    to the lowest code) AND accumulates per-(subspace, code) component
    sums + counts in numpy, emitting one m·ks partial-stats row set per
    task. The earlier form re-derived the same statistics relationally —
    encode pass, posexplode of every vector component (dim× the rows),
    and an n·dim-row join back to the codes — re-shuffling the whole
    corpus per round for m·ks·sub refreshed doubles (guide §2.3: shuffle
    keys/metadata, not payloads; §4.2: batch the heavy math in native
    code). Only the tiny partials are shuffled; only dim·ks doubles visit
    the driver per round, the k-means driver-traffic contract. Empty
    cells keep their previous codeword (standard empty-cluster
    fallback)."""
    import numpy as np

    books = pq_seed_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, dim=dim, m=m, ks=ks
    )
    sub = dim // m
    partial_schema = T.StructType(
        [
            T.StructField("sub_m", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("vsum", T.ArrayType(T.DoubleType())),
        ]
    )
    vecs_only = corpus.select(F.col(vec_col).alias("__v"))
    for _ in range(iters):
        cur = [np.asarray(b, dtype=np.float64) for b in books]

        def _partials(batches, _books=cur):
            acc_n = np.zeros((m, ks), dtype=np.int64)
            acc_s = np.zeros((m, ks, sub), dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
                for j, book in enumerate(_books):
                    seg = x[:, j * sub : (j + 1) * sub]
                    d = seg @ book.T * (-2.0) + (book * book).sum(axis=1)[None, :]
                    codes = d.argmin(axis=1)  # first min = lowest code
                    np.add.at(acc_n[j], codes, 1)
                    np.add.at(acc_s[j], codes, seg)
            nz = np.argwhere(acc_n > 0)
            if len(nz):
                yield pd.DataFrame(
                    {
                        "sub_m": nz[:, 0].astype("int32"),
                        "code": nz[:, 1].astype("int32"),
                        "n": [int(acc_n[a, b]) for a, b in nz],
                        "vsum": [acc_s[a, b].tolist() for a, b in nz],
                    }
                )

        means = collect_index_rows(
            vecs_only.mapInPandas(_partials, partial_schema)
            .select(
                "sub_m", "code", "n", F.posexplode("vsum").alias("sub_pos", "s")
            )
            .groupBy("sub_m", "code", "sub_pos")
            .agg((F.sum("s") / F.sum("n")).alias("mu")),
            what="pq_train_codebooks means",
        )
        new_books = [b.copy() for b in books]
        for r in means:
            new_books[r["sub_m"]][r["code"]][r["sub_pos"]] = r["mu"]
        books = new_books
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple = (),
) -> DataFrame:
    """Encode every vector to ``m`` one-byte codes (nearest codeword per
    subspace, L2; ties break to the lowest code, matching the oracle's
    ORDER BY d, code): dim floats -> m bytes, a 32x memory cut at dim=64/
    m=8 float32. Map-only Arrow kernel — one (n x ks) einsum per subspace
    per batch, the codebooks riding in the closure like every centroid
    kernel here. Output: (id, codes array<int> of length m)."""
    import numpy as np

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _codes(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64)  # n × dim
        out = np.empty((x.shape[0], m), dtype=np.int64)
        for j, book in enumerate(books):
            seg = x[:, j * sub : (j + 1) * sub]  # n × sub
            # ||seg - book||² = ||seg||² - 2·seg·bookᵀ + ||book||²;
            # ||seg||² is constant per row → argmin over the last two terms
            d = seg @ book.T * (-2.0) + (book * book).sum(axis=1)[None, :]
            out[:, j] = d.argmin(axis=1)  # first min = lowest code
        return pd.Series([row.tolist() for row in out])

    return df.select(
        F.col(id_col), *keep, _codes(F.col(vec_col)).alias("codes")
    )


def pq_adc_topk(
    encoded: DataFrame,
    query_vec: list,
    codebooks: list,
    *,
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query-to-codeword
    lookup table (m x ks doubles) is computed on the driver and becomes
    ``element_at`` literals — the scan is pure whole-stage codegen over
    m-byte codes (never touching the original vectors), which is the
    entire point of PQ at 100 TB: the index is ~m bytes/vector and the
    per-row work is m array lookups + a sum. Ascending L2-ADC order,
    ties to the lowest id; distances rounded to 6 (float-compare
    convention)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    sub = len(codebooks[0][0])
    dist = None
    for j, book in enumerate(codebooks):
        qseg = q[j * sub : (j + 1) * sub]
        lut = ((np.asarray(book, dtype=np.float64) - qseg[None, :]) ** 2).sum(
            axis=1
        )
        term = F.element_at(
            F.array(*[F.lit(float(v)) for v in lut]),
            F.col("codes")[j] + 1,
        )
        dist = term if dist is None else dist + term
    w = Window.orderBy(F.asc("adc_dist"), F.asc(id_col))
    return (
        encoded.select(id_col, F.round(dist, 6).alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_distortion(
    corpus: DataFrame,
    codebooks: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Total quantization error sum(||x - decode(encode(x))||²) — the
    quantity Lloyd refinement must not increase (training invariant).
    ONE scan: the kernel re-derives each row's codes (same argmin as
    :func:`pq_encode` — encode is a pure function of (vector, books), so
    there is nothing to join back) and folds the residual error in the
    same batch. The earlier form ran a separate encode pass and a
    corpus-sized self-join on the id to reunite vectors with their own
    codes — a full extra scan plus a shuffle of every vector (guide §2.4:
    remove shuffles outright)."""
    import numpy as np

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]

    @F.pandas_udf(T.DoubleType())
    def _err(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        total = np.zeros(x.shape[0], dtype=np.float64)
        for j, book in enumerate(books):
            seg = x[:, j * sub : (j + 1) * sub]
            d = seg @ book.T * (-2.0) + (book * book).sum(axis=1)[None, :]
            codes = d.argmin(axis=1)  # first min = lowest code
            total += ((seg - book[codes]) ** 2).sum(axis=1)
        return pd.Series(total)

    return corpus.select(_err(F.col(vec_col)).alias("__e")).agg(
        F.sum("__e").alias("distortion")
    )


def l2_normalize(df: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Replace ``vec_col`` with its unit-L2 form (zero vectors pass
    through) — map-only Arrow kernel. Normalizing first makes plain-L2
    PQ/ADC rank identically to cosine, so one distance implementation
    serves both metrics."""
    import numpy as np

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _unit(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        n = np.linalg.norm(x, axis=1)
        n[n == 0.0] = 1.0
        x = x / n[:, None]
        return pd.Series([row.tolist() for row in x])

    return df.withColumn(vec_col, _unit(F.col(vec_col)))


def build_ivfpq_index(
    corpus: DataFrame,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    iters: int = 1,
) -> None:
    """Materialize the full IVF-PQ index: coarse cells (partition-pruned
    layout, as :func:`build_ivf_index`) + per-vector PQ codes of the
    RESIDUAL x − centroid(cell) (the classic IVF-PQ composition — the
    coarse quantizer removes the cell mean, so the ks codewords spend
    their resolution on local structure).

    On disk: ``<dir>/`` codes parquet partitioned by cell (id + m int
    codes ≈ m bytes/vector — the 100 TB index is ~1/32 the corpus),
    ``<dir>.centroids`` and ``<dir>.codebooks`` tiny side tables.
    Vectors are unit-normalized first so ADC-L2 ranks like cosine.
    """
    corpus_n = l2_normalize(
        corpus.select(id_col, vec_col, cell_col), vec_col=vec_col
    ).transform(bounded_persist)
    cents = label_centroids(
        corpus_n, cell_col=cell_col, vec_col=vec_col, dim=dim
    ).transform(bounded_persist)
    assigned = assign_cells(
        corpus_n, cents, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=1
    )
    cent_map = {
        r["cell"]: list(r["centroid"])
        for r in collect_index_rows(cents, what="build_ivfpq_index centroids")
    }
    resid = _sub_centroid(assigned, cent_map, vec_col=vec_col)
    books = pq_train_codebooks(
        resid, id_col=id_col, vec_col=vec_col, dim=dim, m=m, ks=ks,
        iters=iters,
    )
    enc = pq_encode(
        resid, books, id_col=id_col, vec_col=vec_col, keep=("cell",)
    )
    enc.write.mode("overwrite").partitionBy("cell").parquet(index_dir)
    cents.write.mode("overwrite").parquet(index_dir + ".centroids")
    spark = corpus.sparkSession
    book_rows = [
        (j, c, [float(v) for v in books[j][c]])
        for j in range(m)
        for c in range(ks)
    ]
    spark.createDataFrame(
        book_rows, "sub_m int, code int, codeword array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(index_dir + ".codebooks")


def _sub_centroid(
    df: DataFrame, cent_map: dict, *, vec_col: str
) -> DataFrame:
    """vec := vec − centroid(cell), Arrow kernel (centroid dict rides in
    the closure — k·dim doubles, the coarse-quantizer traffic class)."""
    import numpy as np

    cmap = {c: np.asarray(v, dtype=np.float64) for c, v in cent_map.items()}

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _resid(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        cents = np.stack([cmap[c] for c in cells.to_numpy()])
        r = x - cents
        return pd.Series([row.tolist() for row in r])

    return df.withColumn(vec_col, _resid(F.col(vec_col), F.col("cell")))


def _read_ivfpq_index(spark, index_dir: str, dim: int):
    """Read a persisted IVF-PQ index's side tables: ``(cents, books,
    cent_map)`` — the centroid frame, the ``m`` codebooks as (ks, dim/m)
    arrays, and cell → centroid vector (k·dim + m·ks·dim/m doubles, the
    only driver traffic of the PQ family)."""
    import numpy as np

    cents = spark.read.parquet(index_dir + ".centroids")
    book_rows = collect_index_rows(
        spark.read.parquet(index_dir + ".codebooks"), what="ivfpq codebooks"
    )
    m = 1 + max(r["sub_m"] for r in book_rows)
    ks = 1 + max(r["code"] for r in book_rows)
    books = [np.zeros((ks, dim // m)) for _ in range(m)]
    for r in book_rows:
        books[r["sub_m"]][r["code"]] = r["codeword"]
    cent_map = {
        r["cell"]: np.asarray(list(r["centroid"]), dtype=np.float64)
        for r in collect_index_rows(cents, what="ivfpq centroids")
    }
    return cents, books, cent_map


def ann_ivfpq_from_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    nprobe: int = 3,
    refine_corpus: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """ANN top-k from the persisted IVF-PQ index: queries probe their
    ``nprobe`` nearest cells (partition-pruning isin — only those cells'
    code files are listed), ADC runs over m-byte codes (one Arrow batch
    kernel: decode = codeword gather, dist = ‖(q̂−centroid)−decode‖²),
    and, when ``refine_corpus`` is given, the top ``k·refine_factor``
    ADC candidates are re-ranked by EXACT cosine against their original
    vectors — the standard two-stage IVF-PQ serving shape: the lossy
    scan touches only codes, the exact pass touches k·refine_factor
    true vectors per query."""
    import numpy as np

    cents, books, cmap = _read_ivfpq_index(spark, index_dir, dim)
    q_norm = l2_normalize(queries.select(id_col, vec_col), vec_col=vec_col)
    q_cells = assign_cells(
        q_norm, cents, id_col=id_col, vec_col=vec_col, dim=dim,
        nprobe=nprobe,
    ).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "cell"
    )
    probed = sorted(
        {
            r["cell"]
            for r in collect_index_rows(
                q_cells.select("cell").distinct(), what="ivfpq probed cells"
            )
        }
    )
    codes = spark.read.parquet(index_dir).filter(F.col("cell").isin(probed))

    m = len(books)
    bmat = np.stack(books)  # m × ks × sub

    @F.pandas_udf(T.DoubleType())
    def _adc(qv: pd.Series, cells: pd.Series, codes_s: pd.Series) -> pd.Series:
        q = np.stack(qv.to_numpy()).astype(np.float64)
        cent = np.stack([cmap[c] for c in cells.to_numpy()])
        r = q - cent  # n × dim residual targets
        cd = np.stack(codes_s.to_numpy()).astype(np.int64)  # n × m
        # gather decoded residuals: n × m × sub -> n × dim
        dec = bmat[np.arange(m)[None, :], cd, :].reshape(len(cd), dim)
        return pd.Series(((r - dec) ** 2).sum(axis=1))

    scored = q_cells.join(codes, "cell").withColumn(
        "adc_dist", _adc(F.col("q_vec"), F.col("cell"), F.col("codes"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.asc("adc_dist"), F.asc(id_col)
    )
    n_cand = k * refine_factor if refine_corpus is not None else k
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= n_cand
    )
    if refine_corpus is None:
        return ranked.select(
            "q_id", id_col, F.round("adc_dist", 6).alias("adc_dist"), "rank"
        )
    cand = ranked.select("q_id", "q_vec", id_col, "adc_dist")
    true_vecs = refine_corpus.select(
        F.col(id_col), F.col(vec_col).alias("c_vec")
    )
    refined = cand.join(true_vecs, id_col).withColumn(
        "cos_sim", cosine_vectorized(F.col("q_vec"), F.col("c_vec"))
    )
    return _top_k_per_query(refined, k, id_col=id_col)


def ivfpq_index_append(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> int:
    """Incrementally extend a persisted IVF-PQ index: encode NEW vectors
    with the index's FROZEN coarse centroids and codebooks and append
    their codes into the cell partitions — no retrain, no rewrite of
    existing codes. This is how a 100 TB vector index absorbs a daily
    ingest: the append touches only the new rows' cells, and encode
    determinism (same books -> same codes) means an appended index is
    bit-identical to a full rebuild OVER THE SAME BOOKS. Codebook drift
    (distribution shift) is a rebuild decision, as in any IVF system —
    monitor via :func:`pq_distortion` on a sample. Returns rows appended.
    """
    cents, books, cmap = _read_ivfpq_index(spark, index_dir, dim)
    new_n = l2_normalize(
        new_vectors.select(id_col, vec_col), vec_col=vec_col
    )
    assigned = assign_cells(
        new_n, cents, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=1
    )
    resid = _sub_centroid(assigned, cmap, vec_col=vec_col)
    enc = pq_encode(resid, books, id_col=id_col, vec_col=vec_col, keep=("cell",))
    enc.write.mode("append").partitionBy("cell").parquet(index_dir)
    return new_vectors.count()


def ann_index_forget(
    spark,
    index_dir: str,
    ids,
    *,
    id_col: str = "vec_id",
    cell_col: str = "cell",
) -> int:
    """GDPR erasure for a persisted cell-partitioned ANN index (IVF's
    full-vector layout and IVF-PQ's codes layout share the shape:
    parquet partitioned by ``cell`` with an id column).

    Base-table ``forget`` alone leaves the subject's vectors/codes in the
    index — it would keep SURFACING as a nearest neighbor of future
    queries. This rewrites it out, partition-pruned: only the cells that
    actually contain the forgotten ids are read back and rewritten
    (dynamic partition overwrite); every other cell's files are untouched
    — at 100 TB an erasure subject hits a handful of cells, so the
    rewrite is O(affected cells), not O(index). Cells left EMPTY by the
    erasure are deleted outright (dynamic overwrite only replaces
    partitions present in the written frame, so an emptied cell must be
    dropped explicitly or its old files would survive).

    ``ids`` is a driver-side list (an erasure subject's ids — small by
    nature, same contract as the warehouse ``forget`` broadcast).
    Returns the number of index rows erased.
    """
    ids = list(ids)
    if not ids:
        return 0
    codes = spark.read.parquet(index_dir)
    hit_cells = [
        r[cell_col]
        for r in collect_index_rows(
            codes.filter(F.col(id_col).isin(ids)).select(cell_col).distinct(),
            what="ann_index_forget hit cells",
        )
    ]
    if not hit_cells:
        return 0
    affected = codes.filter(F.col(cell_col).isin(hit_cells))
    n_erased = affected.filter(F.col(id_col).isin(ids)).count()
    # materialize survivors BEFORE overwriting the files they were read
    # from (self-overwrite hazard — same rule as load_patients' checkpoint)
    survivors = affected.filter(~F.col(id_col).isin(ids)).localCheckpoint(
        eager=True
    )
    surviving_cells = {
        r[cell_col]
        for r in collect_index_rows(
            survivors.select(cell_col).distinct(),
            what="ann_index_forget surviving cells",
        )
    }
    if surviving_cells:
        survivors.filter(F.col(cell_col).isin(list(surviving_cells))).write.option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").partitionBy(cell_col).parquet(index_dir)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for c in hit_cells:
        if c in surviving_cells:
            continue
        p = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{cell_col}={c}")
        fs = p.getFileSystem(hconf)
        fs.delete(p, True)
    return n_erased


def ivfpq_recall(
    spark,
    index_dir: str,
    probe_queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    nprobe: int = 5,
    refine_factor: int = 16,
) -> float:
    """Sampled recall@k of the persisted IVF-PQ index against exact
    brute-force over the SAME probe set — the index-health metric a
    frozen-codebook index must be monitored by (ivfpq_index_append never
    retrains, so distribution drift silently degrades recall).

    Scale posture: ``probe_queries`` is a held-out SAMPLE (hundreds to
    thousands of vectors) — the exact pass broadcasts only the sample
    and scans the corpus once, so monitoring cost is one corpus scan per
    health check regardless of index size; for continuous cheap
    monitoring between scans use :func:`pq_distortion` on new appends
    (no corpus scan), with this as the periodic ground-truth rung.
    """
    from healthcare_etl_pipeline_spark.operators.cache import bounded_persist

    exact = brute_force_topk(
        probe_queries, corpus, id_col=id_col, vec_col=vec_col, k=k, dim=dim
    ).transform(bounded_persist)
    approx = ann_ivfpq_from_index(
        spark,
        index_dir,
        probe_queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        dim=dim,
        nprobe=nprobe,
        refine_corpus=corpus,
        refine_factor=refine_factor,
    )
    n = exact.count()
    if not n:
        return 1.0
    hits = (
        exact.select("q_id", id_col)
        .join(approx.select("q_id", id_col), ["q_id", id_col], "left_semi")
        .count()
    )
    return hits / n


def ivfpq_retrain_if_drifted(
    spark,
    index_dir: str,
    corpus: DataFrame,
    probe_queries: DataFrame,
    *,
    floor: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    iters: int = 1,
    nprobe: int = 5,
    refine_factor: int = 16,
) -> dict:
    """Drift-triggered index maintenance: measure sampled recall@k; when
    it falls below ``floor``, REBUILD the index over the current corpus
    (fresh coarse centroids + Lloyd-retrained codebooks — the decision
    :func:`ivfpq_index_append`'s docstring defers to the operator), then
    re-measure. Returns ``{"recall_before", "recall_after",
    "retrained"}``.

    The rebuild is one corpus pass (same cost class as the original
    build); between health checks appends stay cheap/frozen. This is the
    standard IVF lifecycle: append until recall decays, then retrain —
    the monitor makes the decay observable instead of silent.
    """
    kw = dict(
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        dim=dim,
        nprobe=nprobe,
        refine_factor=refine_factor,
    )
    before = ivfpq_recall(spark, index_dir, probe_queries, corpus, **kw)
    if before >= floor:
        return {"recall_before": before, "recall_after": before, "retrained": False}
    build_ivfpq_index(
        corpus,
        index_dir,
        id_col=id_col,
        vec_col=vec_col,
        cell_col=cell_col,
        dim=dim,
        m=m,
        ks=ks,
        iters=iters,
    )
    after = ivfpq_recall(spark, index_dir, probe_queries, corpus, **kw)
    return {"recall_before": before, "recall_after": after, "retrained": True}
