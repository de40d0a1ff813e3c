"""Physical-plan audit: dump pushdown/pruning/join-strategy facts for every
registered query and flag anti-patterns.

Checks per query (at the bench scale factor):
- PushedFilters non-empty wherever the query filters a scanned column
  (predicate pushdown reached parquet);
- ReadSchema column count vs full table width (column pruning engaged);
- join strategy counts: BroadcastHashJoin vs SortMergeJoin vs
  BroadcastNestedLoopJoin/CartesianProduct (the latter two flagged unless
  the query is an intentional small-side cross join);
- Python-UDF / mapInPandas presence (expected only for encrypt + multimodal
  + stateful queries).

Usage: python tools/audit_plans.py [sf_dir] [--write-report]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from healthcare_etl_pipeline_spark.queries import all_queries
from healthcare_etl_pipeline_spark.session import get_spark

# Queries where a nested-loop/cartesian join is the intended plan (tiny
# broadcast side by construction).
EXPECTED_NESTED_LOOP = {
    "cosine_topk_bruteforce",   # broadcast query set × corpus (no equi-key)
    "dedup_embedding_cosine",   # id < id self pair-join, exact-form oracle op
    "q22_sales_opportunity",    # scalar-avg crossjoin (1-row broadcast)
    "q11_important_stock",      # scalar-threshold crossjoin (1-row broadcast)
    "ann_ivf_cosine",           # corpus × k-centroids (k rows broadcast)
    "math_functions",           # deliberate constant-frame cross
    "unigram_logprob_docs",     # scalar-total crossjoin (1-row broadcast)
    "tfidf_top_terms_docs",     # scalar-N crossjoin (1-row broadcast)
    "drift_psi_orders",         # scalar bin-total crossjoins (1-row broadcasts)
    "balance_sources_docs",     # min-stratum-size crossjoin (1-row broadcast)
    "bm25_topk_docs",           # corpus N/avgdl stats crossjoin (1-row broadcast)
    "bm25_incremental_update",  # same scoring tail: 1-row maintained-stats crossjoin
    "cms_join_size_lineitem",   # two CMS sketch frames (depth×width rows, broadcast)
    "dq_checks_orders",         # expectation-summary scalars crossjoin (1-row broadcasts)
    "triangle_count_copurchase",  # final scalar assembly: 3 crossjoins of 1-row aggs
    "temperature_mix_docs",     # min-stratum-size crossjoin (1-row broadcast)
    "ann_lsh_recall_contract",  # recall-flag crossjoin (1-row broadcast agg)
    "kmeans_embeddings",        # convergence-flag crossjoin (1-row broadcast agg)
    "ann_ivf_persisted",        # recall-flag crossjoin (1-row broadcast agg)
    "ann_ivfpq_persisted",      # recall-flag crossjoin (1-row broadcast agg)
    "importance_weight_docs",   # domain-totals crossjoin (1-row broadcast agg)
    "welch_ttest_orders",       # two 1-row group-stat frames crossjoined
    "chi_square_events",        # row/col marginal totals crossjoin (1-row agg)
    "frequent_brand_pairs",     # basket-count N crossjoin (1-row broadcast agg)
    "pmi_cooccurrence_docs",    # corpus-total crossjoin (1-row broadcast agg)
    "histogram_orders",         # min/max bounds crossjoin (1-row broadcast agg)
    "bigram_lm_docs",           # vocabulary-size crossjoin (1-row broadcast agg)
    "perplexity_bucket_docs",   # tercile-cutoff crossjoin (1-row broadcast agg)
    "rrf_hybrid_retrieval",     # bm25 N/avgdl stats crossjoin (1-row broadcast)
    "kmv_intersection_events",  # two 1-row sketch frames + 1-row exact-stats agg
    "leakage_safe_split_docs",  # leak-audit crossjoin (1-row broadcast agg)
    "pq_adc_topk_embeddings",   # distortion-invariant crossjoin (1-row aggs)
    "ann_ivfpq_recall_contract",  # brute-force exact side: broadcast 10-query × corpus
    "contrastive_negatives_docs",  # id-space size crossjoin (1-row broadcast agg)
}

# Queries expected to run Python (Arrow) stages.
EXPECTED_PYTHON = {
    "patients_ingest_valid",
    "enc_roundtrip_customers",
    "multimodal_feature_extract",
    "stream_stateful_user_totals",
    "ann_lsh_cosine",   # numpy matmul signatures (portable; integer-quantized re-rank)
    "ann_lsh_recall_contract",  # numpy signatures + einsum cosine (vectorized)
    "ann_ivf_cosine",   # einsum cosine for cell assignment + re-rank
    "dedup_embedding_lsh",  # numpy matmul LSH signatures (exact-fold re-rank)
    "dedup_embedding_lsh_auto",  # same signature kernel, auto-sized planes
    "dedup_embedding_pair_sample",  # same signature kernel, sampled pairs
    "bpe_encode_docs",      # Arrow-batched greedy rank-priority encode UDF
    "warc_export_roundtrip",  # applyInPandas shard writer + mapInPandas WARC parser
    "kmeans_embeddings",    # Arrow-batched centroid-assignment kernel
    "semantic_dedup_embeddings",  # k-means partition (same Arrow kernel)
    "txn_committed_read",   # decrypt-roundtrip UDF on the committed snapshot
    "multimodal_decode_ppm",      # real PPM decode kernel (mapInPandas)
    "audio_decode_wav",     # real WAV decode kernel (mapInPandas)
    "audio_frame_energy",   # real WAV decode kernel (mapInPandas)
    "video_frame_sample_y4m",     # real Y4M container parse (mapInPandas)
    "ann_ivf_persisted",    # Arrow cell-assignment + einsum re-rank kernels
    "jaro_winkler_part_pairs",  # Arrow JW scorer on block-confined pairs
    "unicode_nfc_parts",    # Arrow unicodedata NFC normalization kernel
    "pq_adc_topk_embeddings",   # Arrow subspace-argmin encode kernel
    "ann_ivfpq_persisted",      # Arrow ADC codeword-gather + einsum re-rank
    "cdc_chunk_docs",   # Arrow per-position rolling-window boundary scan
    #   (HOF F.filter is CodegenFallback: native-md5-per-char inside it
    #   measured 45+ min at sf10 vs ~1 µs/char for the hashlib twin)
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(sf_dir: str) -> tuple[list[str], list[str]]:
    spark = get_spark()
    rows, flags = [], []
    for name, spec in sorted(all_queries().items()):
        try:
            df = spec.fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            flags.append(f"{name}: PLAN ERROR {e}")
            continue
        if df.isStreaming:
            rows.append(f"| {name} | streaming | — | — | — |")
            continue
        p = plan_text(df)
        bhj = len(re.findall(r"BroadcastHashJoin", p))
        smj = len(re.findall(r"SortMergeJoin", p))
        bnl = len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", p))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
        n_pushed = sum(1 for x in pushed if x.strip())
        pyth = len(re.findall(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas", p))
        rows.append(
            f"| {name} | BHJ={bhj} SMJ={smj} BNLJ={bnl} | {n_pushed} scans w/ pushdown | py={pyth} | ok |"
        )
        if bnl and name not in EXPECTED_NESTED_LOOP:
            flags.append(f"{name}: unexpected nested-loop/cartesian join")
        if pyth and name not in EXPECTED_PYTHON:
            flags.append(f"{name}: unexpected Python stage in plan")
    return rows, flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rows, flags = audit(sf_dir)
    for r in rows:
        print(r)
    print()
    if flags:
        print("FLAGS:")
        for f in flags:
            print(" -", f)
    else:
        print("no plan anti-patterns flagged")
    if "--write-report" in sys.argv:
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
            fh.write(
                "# Physical-plan audit\n\n"
                f"Generated by `python tools/audit_plans.py {sf_dir} --write-report`.\n\n"
                "Per query: join strategies chosen by Catalyst/AQE, number of parquet\n"
                "scans with non-empty PushedFilters, Python (Arrow) stages in the plan.\n"
                "Nested-loop joins and Python stages are whitelisted only where they are\n"
                "the intended plan (see tools/audit_plans.py).\n\n"
                "| query | joins | pushdown | python | status |\n|---|---|---|---|---|\n"
            )
            for r in rows:
                fh.write(r + "\n")
            fh.write("\nFlags: " + ("; ".join(flags) if flags else "none") + "\n")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
