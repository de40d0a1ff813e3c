"""Persisted incremental MinHash-LSH dedup index (operators/dedup_index.py).

Contract under test: signatures are computed once per document for the
lifetime of the corpus — each increment signs only its own docs, probes
the persisted band-bucket index, and publishes survivors + their index
rows in ONE atomic warehouse commit (idempotent batch_id retries,
crash-invisible staging)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_etl_pipeline_spark.operators import dedup_index as DI
from healthcare_etl_pipeline_spark.sources.warehouse import TransactionalWarehouse

# Texts engineered so near-dups share every shingle (identical text ⇒
# identical signature ⇒ same bucket in all bands), while distinct docs
# share no 3-word shingle at all.
DOC_A = "alpha beta gamma delta epsilon zeta eta theta"
DOC_B = "one two three four five six seven eight nine"
DOC_C = "red orange yellow green blue indigo violet ultraviolet"
DOC_D = "north south east west up down left right forward"
TINY = "hi"  # < 3 tokens ⇒ zero shingles ⇒ never a dup candidate


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def txn_wh(spark, tmp_path):
    wh = TransactionalWarehouse(spark, str(tmp_path / "wh"))
    wh.create_all()
    return wh


def _setup_index(spark, wh, corpus_rows):
    corpus = _docs(spark, corpus_rows)
    DI.register_minhash_index(wh, "mh_idx", corpus, "doc_id")
    boot = wh.begin("boot")
    DI.build_minhash_index(wh, corpus, index_table="mh_idx", txn=boot)
    boot.commit()
    return corpus


def test_increment_drops_corpus_dup_keeps_novel(spark, txn_wh):
    _setup_index(spark, txn_wh, [(1, DOC_A), (2, DOC_B)])
    inc = _docs(spark, [(10, DOC_A), (11, DOC_C)])  # 10 dups corpus doc 1
    survivors, rows = DI.novel_against_index(txn_wh, inc, index_table="mh_idx")
    assert [r.doc_id for r in survivors.collect()] == [11]
    # survivor rows carry only the survivor's buckets
    assert {r.doc_id for r in rows.select("doc_id").distinct().collect()} == {11}


def test_within_increment_greedy_keeps_smaller_id(spark, txn_wh):
    _setup_index(spark, txn_wh, [(1, DOC_A)])
    inc = _docs(spark, [(10, DOC_C), (11, DOC_C), (12, DOC_D)])
    survivors, _ = DI.novel_against_index(txn_wh, inc, index_table="mh_idx")
    assert sorted(r.doc_id for r in survivors.collect()) == [10, 12]


def test_zero_shingle_docs_always_survive(spark, txn_wh):
    _setup_index(spark, txn_wh, [(1, TINY), (2, DOC_A)])
    inc = _docs(spark, [(10, TINY), (11, TINY)])
    survivors, rows = DI.novel_against_index(txn_wh, inc, index_table="mh_idx")
    assert sorted(r.doc_id for r in survivors.collect()) == [10, 11]
    assert rows.count() == 0  # no buckets appended for shingle-less docs


def test_second_increment_sees_first_survivors(spark, txn_wh):
    """The point of the persisted index: inc2's dup of an inc1 SURVIVOR
    (a doc the original corpus never contained) is caught because inc1's
    commit appended its survivors' buckets."""
    _setup_index(spark, txn_wh, [(1, DOC_A)])
    assert DI.dedup_increment(
        txn_wh, _docs(spark, [(10, DOC_C)]), index_table="mh_idx", batch_id="i1"
    )
    survivors, _ = DI.novel_against_index(
        txn_wh, _docs(spark, [(20, DOC_C), (21, DOC_B)]), index_table="mh_idx"
    )
    assert [r.doc_id for r in survivors.collect()] == [21]


def test_dedup_increment_atomic_docs_and_index(spark, txn_wh):
    corpus = _setup_index(spark, txn_wh, [(1, DOC_A)])
    txn_wh.register_table("corpus_docs", corpus.schema)
    DI.dedup_increment(
        txn_wh,
        _docs(spark, [(10, DOC_A), (11, DOC_B)]),
        index_table="mh_idx",
        docs_table="corpus_docs",
        batch_id="i1",
    )
    assert [r.doc_id for r in txn_wh.read("corpus_docs").collect()] == [11]
    idx_ids = {
        r.doc_id for r in txn_wh.read("mh_idx").select("doc_id").distinct().collect()
    }
    assert idx_ids == {1, 11}


def test_idempotent_batch_id_retry(spark, txn_wh):
    _setup_index(spark, txn_wh, [(1, DOC_A)])
    inc = _docs(spark, [(10, DOC_B)])
    assert DI.dedup_increment(txn_wh, inc, index_table="mh_idx", batch_id="i1")
    before = txn_wh.read("mh_idx").count()
    # retry of the same batch: no recompute, no duplicate index rows
    assert not DI.dedup_increment(txn_wh, inc, index_table="mh_idx", batch_id="i1")
    assert txn_wh.read("mh_idx").count() == before


def test_uncommitted_build_invisible_to_probe(spark, txn_wh):
    """Crash-safety: a staged-but-uncommitted index append must not
    influence the next probe."""
    corpus = _setup_index(spark, txn_wh, [(1, DOC_A)])
    staged = txn_wh.begin("crashed")
    DI.build_minhash_index(
        txn_wh, _docs(spark, [(2, DOC_B)]), index_table="mh_idx", txn=staged
    )
    # no commit — simulated crash after staging
    survivors, _ = DI.novel_against_index(
        txn_wh, _docs(spark, [(10, DOC_B)]), index_table="mh_idx"
    )
    assert [r.doc_id for r in survivors.collect()] == [10]
    del corpus, staged


def test_probe_plan_broadcasts_small_increment(spark, txn_wh):
    """Scale posture: under the row ceiling the increment side carries the
    broadcast hint, so the index streams through a BroadcastHashJoin —
    no shuffle of the (at-scale, corpus-sized) index table."""
    _setup_index(spark, txn_wh, [(1, DOC_A), (2, DOC_B), (3, DOC_C)])
    inc = _docs(spark, [(10, DOC_D)])
    survivors, _ = DI.novel_against_index(txn_wh, inc, index_table="mh_idx")
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bucket_rows_format_and_arity(spark):
    df = _docs(spark, [(1, DOC_A)])
    rows = DI.bucket_rows(df, k=8, bands=4).collect()
    assert len(rows) == 4  # one row per band
    bands = sorted(r.bucket.split(":")[0] for r in rows)
    assert bands == ["b0", "b1", "b2", "b3"]
    for r in rows:
        parts = r.bucket.split(":")
        assert len(parts) == 3  # band tag + 2 signature rows per band
        int(parts[1]), int(parts[2])
