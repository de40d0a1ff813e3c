"""Similarity-search operator tests: brute-force cosine top-k + LSH ANN."""

from pyspark.sql import functions as F

from healthcare_etl_pipeline_spark.operators import similarity as S

DIM = 8


def _vecs(spark):
    rows = [
        (0, [1.0] * DIM),
        (1, [1.0] * DIM),                     # identical to 0
        (2, [1.0] * (DIM - 1) + [0.9]),       # near
        (3, [-1.0] * DIM),                    # opposite
        (4, [1.0, -1.0] * (DIM // 2)),        # orthogonal
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_ordering(spark):
    vecs = _vecs(spark)
    queries = vecs.filter("vec_id = 0")
    corpus = vecs.filter("vec_id > 0")
    out = S.brute_force_topk(queries, corpus, k=4, dim=DIM).collect()
    ranked = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 2, 4, 3]  # identical, near, orthogonal, opposite
    by_id = {r.vec_id: r.cos_sim for r in out}
    assert by_id[1] == 1.0
    assert abs(by_id[4]) < 1e-9
    assert by_id[3] == -1.0


def test_ann_lsh_recall_on_testdata(spark):
    """LSH ANN must recover most of the exact top-5 on real embeddings."""
    from healthcare_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter("vec_id < 5")
    corpus = emb.filter("vec_id >= 5")
    exact = {
        (r.q_id, r.vec_id)
        for r in S.brute_force_topk(queries, corpus, k=5, dim=64).collect()
    }
    approx = {
        (r.q_id, r.vec_id)
        for r in S.ann_lsh_topk(
            queries, corpus, k=5, dim=64, planes=2, tables=12
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # banded LSH: p≈0.5/plane on near-orthogonal synthetic vectors →
    # candidate prob ≈ 1-(1-0.25)^12 ≈ 0.97 per true neighbor
    assert recall >= 0.6


def test_ann_lsh_topk_sig_col_matches_inline(spark):
    """A precomputed signature column (one signed frame feeding both join
    sides, as the registered LSH queries use it) must return exactly the
    rows of the inline-signature path under the same seed."""
    from healthcare_etl_pipeline_spark.catalog import load_table

    kw = dict(k=5, dim=64, planes=4, tables=6, seed=42)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sig_udf = S.make_lsh_signatures_udf(
        planes=kw["planes"], tables=kw["tables"], dim=64, seed=kw["seed"]
    )
    signed = emb.withColumn("sigs", sig_udf(F.col("embedding")))

    def rows(df, **extra):
        out = S.ann_lsh_topk(
            df.filter("vec_id < 10"), df.filter("vec_id >= 10"), **kw, **extra
        )
        return sorted(tuple(r) for r in out.collect())

    inline = rows(emb)
    assert len(inline) == 50  # 10 queries × k=5
    assert rows(signed, sig_col="sigs") == inline


def test_ann_ivf_recall_on_testdata(spark):
    """IVF ANN with nprobe=3 of 10 label cells must beat random-cell recall."""
    from healthcare_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter("vec_id < 5")
    corpus = emb.filter("vec_id >= 5")
    exact = {
        (r.q_id, r.vec_id)
        for r in S.brute_force_topk(queries, corpus, k=5, dim=64).collect()
    }
    approx_rows = S.ann_ivf_topk(queries, corpus, k=5, dim=64, nprobe=3).collect()
    approx = {(r.q_id, r.vec_id) for r in approx_rows}
    # every query must return a full candidate list from its probed cells
    assert len(approx_rows) == len(exact)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4  # 3/10 cells probed; neighbors concentrate in near cells


def test_cosine_near_dup_pairs(spark):
    from pyspark.sql import functions as F

    vecs = _vecs(spark)
    pairs = S.cosine_near_dup_pairs(vecs, dim=DIM, threshold=0.9999).collect()
    assert {(r.keep_id, r.dup_id) for r in pairs} == {(0, 1)}  # the identical pair
    assert pairs[0].cos_sim == 1.0


def test_quantize_int8_bounds_and_roundtrip(spark):
    """qvec ∈ [-127,127]; reconstruction error ≤ scale/2; zero vector safe."""
    from pyspark.sql import types as T

    rows = [
        (1, [1.0, -2.0, 0.5, 127.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),          # zero vector → scale fallback 1.0
        (3, [-0.001, 0.0005, 0.00025, 0.0]),  # tiny magnitudes
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    out = {r.vec_id: r for r in S.quantize_int8(spark.createDataFrame(rows, schema)).collect()}
    for vid, r in out.items():
        assert all(-127 <= q <= 127 for q in r.qvec), (vid, r.qvec)
        assert r.max_abs_err <= r.scale / 2 + 1e-9, (vid, r)
    assert out[2].scale == 1.0
    assert out[2].qvec == [0, 0, 0, 0]
    assert out[1].qvec[3] == 127  # the max component hits full range


def test_embedding_dedup_lsh_matches_exact(spark):
    """The LSH-prefiltered near-dup pairs must equal the exact O(n²) pair
    set on the oracle corpus (recall 1.0 at planes=2/tables=16) — the
    contract that lets the registered query carry a full value oracle."""
    from healthcare_etl_pipeline_spark.catalog import load_table
    from healthcare_etl_pipeline_spark.queries.helpers import spread

    emb = spread(load_table(spark, "/root/testdata/sf0.001", "embeddings"), spark)
    exact = {
        (r.keep_id, r.dup_id, r.cos_sim)
        for r in S.cosine_near_dup_pairs(emb, dim=64, threshold=0.35).collect()
    }
    lsh = {
        (r.keep_id, r.dup_id, r.cos_sim)
        for r in S.embedding_dedup_lsh(emb, dim=64, threshold=0.35).collect()
    }
    assert lsh == exact
    assert len(exact) > 100  # the threshold actually bites on this corpus


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    import healthcare_etl_pipeline_spark.operators.similarity as S
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    index_dir = str(tmp_path / "ivf_idx")
    S.build_ivf_index(corpus, index_dir, dim=64)

    served = S.ann_ivf_from_index(spark, index_dir, queries, k=3, dim=64, nprobe=2)
    rows = served.collect()
    assert {r.q_id for r in rows} == {0, 1, 2, 3, 4}
    for r in rows:
        assert 1 <= r.rank <= 3

    # the probed-cell filter must reach the FILE LISTING, not just the scan:
    # the pruned read's plan shows PartitionFilters on the cell column
    cents = spark.read.parquet(index_dir + ".centroids")
    probed = [r["cell"] for r in cents.limit(2).collect()]
    pruned = spark.read.parquet(index_dir).filter(F.col("cell").isin(probed))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]


# -- product quantization -----------------------------------------------------


def test_pq_encode_reconstruction_and_shape(spark):
    from healthcare_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = S.pq_seed_codebooks(emb, dim=64, m=8, ks=16)
    assert len(books) == 8 and books[0].shape == (16, 8)
    enc = S.pq_encode(emb, books)
    rows = enc.collect()
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    # a seed vector must encode EXACTLY to itself (zero subspace error)
    import numpy as np

    seed_ids = [
        r.vec_id for r in emb.orderBy("vec_id").limit(16).collect()
    ]
    first = next(r for r in rows if r.vec_id == seed_ids[0])
    seed_vec = np.array(
        emb.filter(f"vec_id = {seed_ids[0]}").collect()[0].embedding
    )
    recon = np.concatenate([books[j][first.codes[j]] for j in range(8)])
    assert np.allclose(recon, seed_vec)


def test_pq_training_reduces_distortion(spark):
    from healthcare_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books0 = S.pq_seed_codebooks(emb, dim=64, m=8, ks=16)
    books2 = S.pq_train_codebooks(emb, dim=64, m=8, ks=16, iters=2)
    d0 = S.pq_distortion(emb, books0).collect()[0].distortion
    d2 = S.pq_distortion(emb, books2).collect()[0].distortion
    assert d2 <= d0 * 1.000001 + 1e-9, (d0, d2)
    assert d2 < d0, "Lloyd rounds should strictly improve on real data"


def test_pq_adc_topk_agrees_with_exact_on_coarse_data(spark):
    """On data where codewords reproduce the vectors exactly, ADC == exact
    L2 and the top-k must match brute force."""
    rows = []
    # 4 well-separated prototype vectors, 16 copies each (ids interleaved)
    protos = [
        [10.0] * 64,
        [-10.0] * 64,
        [10.0] * 32 + [-10.0] * 32,
        [-10.0] * 32 + [10.0] * 32,
    ]
    for i in range(64):
        rows.append((i, [v + 0.0 for v in protos[i % 4]]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = S.pq_train_codebooks(df, dim=64, m=8, ks=4, iters=1)
    enc = S.pq_encode(df, books)
    q = protos[0]
    top = S.pq_adc_topk(enc, q, books, k=16).collect()
    got = sorted(r.vec_id for r in top)
    assert got == [i for i in range(64) if i % 4 == 0]
    assert all(r.adc_dist == 0.0 for r in top)


def test_pq_adc_rank_deterministic_ties(spark):
    rows = [(i, [1.0] * 64) for i in range(5)]  # all identical
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = S.pq_seed_codebooks(df, dim=64, m=8, ks=4)
    enc = S.pq_encode(df, books)
    top = S.pq_adc_topk(enc, [1.0] * 64, books, k=3).collect()
    assert [r.vec_id for r in sorted(top, key=lambda r: r.rank)] == [0, 1, 2]


def test_l2_normalize_units_and_zero(spark):
    df = spark.createDataFrame(
        [(0, [3.0, 4.0] + [0.0] * 62), (1, [0.0] * 64)],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: r.embedding for r in S.l2_normalize(df).collect()}
    assert abs(out[0][0] - 0.6) < 1e-12 and abs(out[0][1] - 0.8) < 1e-12
    assert out[1] == [0.0] * 64  # zero vector passes through


def test_ivfpq_index_roundtrip_and_pruning(spark, tmp_path):
    from healthcare_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter("vec_id < 5")
    c = emb.filter("vec_id >= 5")
    idx = str(tmp_path / "ivfpq")
    S.build_ivfpq_index(c, idx, dim=64, m=8, ks=16, iters=1)
    # the on-disk index is codes only, partitioned by cell
    import os

    cells = [e for e in os.listdir(idx) if e.startswith("cell=")]
    assert len(cells) >= 2
    stored = spark.read.parquet(idx)
    assert set(stored.columns) >= {"vec_id", "codes", "cell"}
    assert stored.count() == c.count()

    out = S.ann_ivfpq_from_index(
        spark, idx, q, k=5, dim=64, nprobe=5, refine_corpus=c,
        refine_factor=16,
    )
    rows = out.collect()
    assert {r.q_id for r in rows} == {0, 1, 2, 3, 4}
    assert all(1 <= r.rank <= 5 for r in rows)
    # measured recall on this drop is ~0.66; floor with slack
    exact = {
        (r.q_id, r.vec_id)
        for r in S.brute_force_topk(q, c, k=5, dim=64).collect()
    }
    got = {(r.q_id, r.vec_id) for r in rows}
    assert len(got & exact) / len(exact) >= 0.3


def test_ivfpq_adc_only_path_returns_k(spark, tmp_path):
    from healthcare_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter("vec_id < 3")
    c = emb.filter("vec_id >= 3")
    idx = str(tmp_path / "ivfpq2")
    S.build_ivfpq_index(c, idx, dim=64, m=8, ks=16, iters=0)
    out = S.ann_ivfpq_from_index(spark, idx, q, k=4, dim=64, nprobe=3)
    rows = out.collect()
    assert all(len([r for r in rows if r.q_id == qi]) == 4 for qi in (0, 1, 2))
    for qi in (0, 1, 2):
        mine = sorted(
            (r for r in rows if r.q_id == qi), key=lambda r: r.rank
        )
        dists = [r.adc_dist for r in mine]
        assert dists == sorted(dists)  # ascending ADC order


def test_ivfpq_index_append_matches_full_rebuild(spark, tmp_path):
    """Appending new vectors with the FROZEN books must produce exactly
    the codes a full rebuild over the same books would — encode is
    deterministic — and the served top-k must be identical."""
    from healthcare_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter("vec_id < 3")
    first = emb.filter("vec_id >= 3 AND vec_id % 2 = 1")
    rest = emb.filter("vec_id >= 3 AND vec_id % 2 = 0")

    idx = str(tmp_path / "inc")
    S.build_ivfpq_index(first, idx, dim=64, m=8, ks=16, iters=1)
    n_before = spark.read.parquet(idx).count()
    appended = S.ivfpq_index_append(spark, idx, rest, dim=64)
    assert appended == rest.count()
    assert spark.read.parquet(idx).count() == n_before + appended

    out_inc = S.ann_ivfpq_from_index(
        spark, idx, q, k=5, dim=64, nprobe=5,
        refine_corpus=emb.filter("vec_id >= 3"), refine_factor=16,
    )
    inc_pairs = {(r.q_id, r.vec_id, r.rank) for r in out_inc.collect()}

    # full rebuild over the SAME seed corpus ('first') -> same books,
    # then encode everything in one shot
    idx2 = str(tmp_path / "full")
    S.build_ivfpq_index(first, idx2, dim=64, m=8, ks=16, iters=1)
    S.ivfpq_index_append(spark, idx2, rest, dim=64)
    # codes agree row-for-row between the two indexes
    a = {r.vec_id: (r.cell, tuple(r.codes)) for r in spark.read.parquet(idx).collect()}
    b = {r.vec_id: (r.cell, tuple(r.codes)) for r in spark.read.parquet(idx2).collect()}
    assert a == b
    out_full = S.ann_ivfpq_from_index(
        spark, idx2, q, k=5, dim=64, nprobe=5,
        refine_corpus=emb.filter("vec_id >= 3"), refine_factor=16,
    )
    full_pairs = {(r.q_id, r.vec_id, r.rank) for r in out_full.collect()}
    assert inc_pairs == full_pairs


def test_ivfpq_recall_monitor_and_drift_retrain(spark, tmp_path):
    """The frozen-append lifecycle made observable (round-6 verdict #4):
    an index bootstrapped on a tiny unstructured sample (one coarse
    cell, codebooks trained on 50 vectors) is outgrown by 10x of
    appends — sampled recall@5 under BOUNDED refine degrades, the
    monitor detects it, and a rebuild over the full corpus (real cell
    labels, retrained books) restores it. All stages deterministic
    (Lloyd from the deterministic seeding, no RNG)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    boot = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 60)).withColumn(
        "label", F.lit(0)
    )
    idx = str(tmp_path / "idx")
    S.build_ivfpq_index(boot, idx, dim=64, m=8, ks=16, iters=1)
    S.ivfpq_index_append(spark, idx, emb.filter(F.col("vec_id") >= 60), dim=64)
    probes = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)

    before = S.ivfpq_recall(spark, idx, probes, corpus, refine_factor=4)
    assert before < 0.35, before  # obsolete quantizer: degraded serving

    rep = S.ivfpq_retrain_if_drifted(
        spark, idx, corpus, probes, floor=0.35, refine_factor=4
    )
    assert rep["retrained"] is True
    assert rep["recall_before"] == before
    assert rep["recall_after"] > rep["recall_before"]
    assert rep["recall_after"] >= 0.4, rep  # measured 0.44 at this sf

    # healthy index: the monitor does NOT trigger a rebuild
    rep2 = S.ivfpq_retrain_if_drifted(
        spark, idx, corpus, probes, floor=0.35, refine_factor=4
    )
    assert rep2["retrained"] is False
    assert rep2["recall_after"] == rep["recall_after"]


def test_ivfpq_frozen_append_robust_to_isometric_drift(spark, tmp_path):
    """Counterpoint the monitor quantifies: a GEOMETRIC transform of the
    distribution (here negation — any isometry behaves alike) does NOT
    degrade a frozen index, because assignment continuity keeps
    neighbors co-located whatever cell they land in. Drift maintenance
    is about quantizer obsolescence, not coordinate shifts."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") >= 10)
    idx = str(tmp_path / "idx")
    S.build_ivfpq_index(base, idx, dim=64, m=8, ks=16, iters=1)

    def neg(df, off):
        return df.select(
            (F.col("vec_id") + off).alias("vec_id"),
            F.transform("embedding", lambda x: -x).alias("embedding"),
            (F.col("label") + 100).alias("label"),
        )

    S.ivfpq_index_append(spark, idx, neg(base, 100000), dim=64)
    probes = neg(emb.filter(F.col("vec_id") < 10), 200000)
    corpus = base.unionByName(neg(base, 100000))
    rep = S.ivfpq_retrain_if_drifted(
        spark, idx, corpus, probes, floor=0.35, refine_factor=16
    )
    assert rep["retrained"] is False  # frozen recall stayed >= floor
    assert rep["recall_before"] >= 0.35, rep


def test_auto_planes_occupancy_scaling():
    """Fixed planes = quadratic candidate growth (the sf10 finding);
    auto sizing keeps expected bucket occupancy near the target, bounded
    to [2, 16], and resolves to the pinned default at gate scales."""
    assert S.auto_planes(100) == 2
    assert S.auto_planes(2_000) == 2      # sf0.01 corpus → same as pinned
    assert S.auto_planes(20_000) == 5     # sf0.1
    assert S.auto_planes(200_000) == 8    # sf10
    assert S.auto_planes(10**12) == 16    # capped
    assert S.auto_planes(2_000, target_bucket=64) == 5


def test_embedding_dedup_lsh_auto_equals_pinned_at_gate_scale(spark):
    """planes='auto' resolves to the pinned plane count on a gate-scale
    corpus, so the scale variant returns the identical (exact-recall)
    pair set there — the property that keeps the pinned query's value
    oracle meaningful for both forms."""
    from healthcare_etl_pipeline_spark.catalog import load_table
    from healthcare_etl_pipeline_spark.queries.helpers import spread

    emb = spread(load_table(spark, "/root/testdata/sf0.001", "embeddings"), spark)
    pinned = {
        (r.keep_id, r.dup_id, r.cos_sim)
        for r in S.embedding_dedup_lsh(
            emb, dim=64, threshold=0.35, planes=2
        ).collect()
    }
    auto = {
        (r.keep_id, r.dup_id, r.cos_sim)
        for r in S.embedding_dedup_lsh(
            emb, dim=64, threshold=0.35, planes="auto"
        ).collect()
    }
    assert auto == pinned


def test_embedding_dedup_lsh_collapse_exact_equivalence(spark):
    """On a corpus with m-way exact-duplicate vectors the collapsed form
    (LSH over distinct vectors + pair expansion) must return exactly the
    uncollapsed pair set — the m² degeneracy guard the sf10 rung forced."""
    import numpy as np

    from healthcare_etl_pipeline_spark.catalog import load_table
    from healthcare_etl_pipeline_spark.queries.helpers import spread

    rng = np.random.default_rng(3)
    base = [
        [float(x) for x in rng.standard_normal(64)] for _ in range(40)
    ]
    rows = []
    vid = 0
    for i, v in enumerate(base):
        copies = 1 + (i % 4)  # mix of unique and 2-4x duplicated vectors
        for _ in range(copies):
            rows.append((vid, v))
            vid += 1
    df = spread(
        spark.createDataFrame(rows, ["vec_id", "embedding"]), spark
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))

    kw = dict(dim=64, threshold=0.2, planes=2, tables=16, seed=42)
    collapsed = {
        (r.keep_id, r.dup_id, r.cos_sim)
        for r in S.embedding_dedup_lsh(df, collapse_exact=True, **kw).collect()
    }
    direct = {
        (r.keep_id, r.dup_id, r.cos_sim)
        for r in S.embedding_dedup_lsh(df, collapse_exact=False, **kw).collect()
    }
    assert collapsed == direct
    # duplicates exist, so within-cluster (cos=1.0) pairs must be present
    assert any(c == 1.0 for _, _, c in collapsed)


def test_embedding_dedup_pair_sample_is_exact_subset(spark):
    """pair_sample_mod output == full output filtered by the same portable
    pair-bucket predicate — across BOTH the collapse-expansion path and
    the direct path, and non-trivially (some pairs kept, some dropped)."""
    import numpy as np

    from healthcare_etl_pipeline_spark.operators.sampling import (
        BUCKETS, MIX_K, MIX_K2, pair_bucket,
    )
    from healthcare_etl_pipeline_spark.operators.text import MOD
    from healthcare_etl_pipeline_spark.queries.helpers import spread

    rng = np.random.default_rng(7)
    base = [[float(x) for x in rng.standard_normal(64)] for _ in range(30)]
    rows = []
    vid = 0
    for i, v in enumerate(base):
        for _ in range(1 + (i % 3)):  # duplicate clusters feed the expansion
            rows.append((vid, v))
            vid += 1
    df = spread(
        spark.createDataFrame(rows, ["vec_id", "embedding"]), spark
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))

    for collapse in (True, False):
        kw = dict(
            dim=64, threshold=0.2, planes=2, tables=16, seed=42,
            collapse_exact=collapse,
        )
        full = {
            (r.keep_id, r.dup_id, r.cos_sim)
            for r in S.embedding_dedup_lsh(df, **kw).collect()
        }
        sampled = {
            (r.keep_id, r.dup_id, r.cos_sim)
            for r in S.embedding_dedup_lsh(df, pair_sample_mod=3, **kw).collect()
        }

        def bucket(a, b):
            m = (
                (a % MOD) * (MIX_K % MOD) % MOD
                + (b % MOD) * (MIX_K2 % MOD) % MOD
            ) % MOD
            return (m * m % MOD) * m % MOD % BUCKETS

        expect = {(a, b, c) for (a, b, c) in full if bucket(a, b) % 3 == 0}
        assert sampled == expect, f"collapse={collapse}"
        assert 0 < len(sampled) < len(full), f"collapse={collapse}"


def test_collect_index_rows_bounds_driver_pull(spark):
    """Index-metadata collects (centroids, codebooks, probed cells) must be
    bounded: a frame over the cap raises instead of silently materializing
    on the driver, and the LIMIT keeps the pull itself capped."""
    import pytest

    big = spark.range(10).select(F.col("id").alias("cell"))
    assert len(S.collect_index_rows(big, what="t", limit=10)) == 10
    with pytest.raises(ValueError, match="more than 9 rows"):
        S.collect_index_rows(big, what="t", limit=9)

    # default cap applies when limit is omitted
    small = spark.range(3).select(F.col("id").alias("cell"))
    assert len(S.collect_index_rows(small, what="t")) == 3
