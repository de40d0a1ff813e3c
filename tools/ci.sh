#!/usr/bin/env bash
# Tiered verification gate, in dependency order. Each stage fails fast.
#
#   bash tools/ci.sh --quick    # per-COMMIT gate (<5 min): registry
#                               # contract tests + fast unit suites +
#                               # a 14-query oracle smoke at sf0.001
#   bash tools/ci.sh            # full drive: sf0.01 registry drive +
#                               # plan audit + whole pytest suite
#   bash tools/ci.sh --full     # adds the sf0.1 + sf0.001 registry drives
#
# Stages:
#   1. oracle drive  — every registered query vs its DuckDB oracle (sf0.01,
#                      the driver's correctness gate); stdout tee'd to
#                      CHECK_ORACLE.log so the full-registry evidence is
#                      committed in-tree every round (not just the
#                      driver's 50-query sample)
#   2. plan audit    — pushdown/join-strategy/Python-stage anti-patterns,
#                      regenerates PLANS.md, then ASSERTS its row count
#                      equals the query registry (a late-wave query whose
#                      plan was never audited fails the gate — the
#                      round-3/round-4 stale-PLANS.md class)
#   3. pytest        — unit + pipeline + stress + model-based suites
#   4. (--full) sf0.1 drive — scale-dependent behavior (see ORACLE_SF01.md)
set -euo pipefail
cd "$(dirname "$0")/.."

SF001=${SPARK_GRAFT_SF001:-/root/testdata/sf0.01}
SF01=${SPARK_GRAFT_SF01:-/root/testdata/sf0.1}
SF0001=${SPARK_GRAFT_SF0001:-/root/testdata/sf0.001}

if [[ "${1:-}" == "--quick" ]]; then
  # Tier 1 — the per-commit gate, four cheap layers: the registry
  # contract (every query callable, oracle coverage sane), the fast unit
  # suites (no warehouse storms, no streaming waits), the ingest routing
  # counts, the jobs-per-ingest and jobs-per-read guards, the read audit
  # rows, the LocalRelation plan shape of frames built from Python rows,
  # the one-transaction ingest (CLI ingest visible to the server, a CLI
  # crash mid-load leaves no row, a streaming micro-batch crash replays
  # whole), the similarity kernels (brute-force and LSH top-k, banded
  # embedding dedup), and a 14-query oracle smoke spanning each operator
  # family at sf0.001.
  echo "== quick 1/3 registry + fast unit suites"
  python -m pytest -q -x \
    tests/test_queries_registry.py tests/test_dag.py \
    tests/test_validation.py tests/test_dim_hint.py \
    tests/test_joins.py tests/test_sketch.py
  echo "== quick 2/3 ingest/read job guards, read audit, local-frame plans"
  python -m pytest -q -x tests/test_pipeline.py tests/test_api.py \
    -k "counts or jobs or audit or local_relation or coercion"
  echo "== quick 2/3 one-transaction ingest: CLI visibility + crash, stream crash replay"
  python -m pytest -q -x tests/test_cli.py tests/test_streaming.py \
    -k "ingest_visible or ingest_crash or crash_replay"
  echo "== quick 2/3 similarity: brute-force + LSH top-k, banded embedding dedup"
  python -m pytest -q -x tests/test_similarity.py -k "lsh or brute_force"
  echo "== quick 3/3 oracle smoke @ ${SF0001}"
  python tools/check_oracle.py "${SF0001}" \
    q1_pricing_summary q5_revenue_by_nation dedup_exact_lineitem \
    minhash_lsh_pairs cosine_topk_bruteforce ann_lsh_cosine \
    dedup_embedding_lsh text_stats_docs \
    token_count_bpe consent_gate_events patients_ingest_valid \
    txn_committed_read stream_tumbling_counts keyset_page_customers
  echo "quick gate green"
  exit 0
fi

echo "== 1/4 oracle drive @ ${SF001} (log: CHECK_ORACLE.log)"
python tools/check_oracle.py "${SF001}" 2>/dev/null | tee CHECK_ORACLE.log
tail -1 CHECK_ORACLE.log | grep -q " 0 FAIL" || { echo "oracle drive has FAILs"; exit 1; }

echo "== 2/4 plan audit @ ${SF01}"
python tools/audit_plans.py "${SF01}" --write-report

# close-out completeness: every registered query must have a PLANS.md row
REGISTRY=$(python -c "from healthcare_etl_pipeline_spark.queries import all_queries; print(len(all_queries()))")
AUDITED=$(grep -c '^| ' PLANS.md || true)
AUDITED=$((AUDITED - 1))  # header row
if [[ "${AUDITED}" -ne "${REGISTRY}" ]]; then
  echo "PLANS.md is stale: ${AUDITED} audited rows vs ${REGISTRY} registered queries"
  exit 1
fi
echo "PLANS.md covers all ${REGISTRY} registered queries"

echo "== 3/4 pytest"
python -m pytest tests/ -q

if [[ "${1:-}" == "--full" ]]; then
  echo "== 4/4 oracle drive @ ${SF01} (full registry)"
  python tools/check_oracle.py "${SF01}"
  # the scale axis cuts both ways: tiny data exposes rank/boundary
  # conventions dense groups average away (see ORACLE_SF01.md's
  # sf0.001 sweep, which caught a percentile rank off-by-one)
  echo "== bonus: oracle drive @ ${SF0001} (small-data boundaries)"
  python tools/check_oracle.py "${SF0001}"
else
  echo "== 4/4 skipped (pass --full for the sf0.1 + sf0.001 registry drives)"
fi
echo "CI gate green"
