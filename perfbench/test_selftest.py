"""Self-test of the benchmark at sf0.001.

    python3 -m pytest perfbench -q

- every metric named in BENCHMARK.json is printed, with its unit, by both
  workloads in both modes, on a tree whose outputs are right;
- a deliberately corrupted result trips the correctness gate, so the gate
  is not vacuous;
- the seed changes the inputs and the query order, not the expected answers;
- without the engine beside it the benchmark exits non-zero and prints no
  result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402
import ingest_serve  # noqa: E402
import query_workloads  # noqa: E402

with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SF = 0.001


def _run(workload: str, trace: int, cwd: str = harness.ROOT):
    cmd = [
        sys.executable, os.path.join("perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--sf", str(SF),
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_result_line_names_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
        return
    assert values["trace.self_sum_error"] < 0.1
    assert values["session.boot_s"] > 0 and values["trace.op_p50_s"] > 0
    assert values["session.peak_rss_mb"] > 0
    if workload == "ingest_serve":
        exercised = [
            "dag.extract_ms", "dag.load_ms", "pipeline.spark_jobs_per_ingest",
            "pipeline.load_ratio", "warehouse.stage_ms", "warehouse.commit_ms",
            "warehouse.bytes_per_record", "warehouse.files", "warehouse.get_jobs",
            "warehouse.get_files_scanned", "api.ingest.self_ms", "api.get.self_ms",
            "serve.get_p50_s", "serve.records_per_s", "encryption.udf_self_s",
        ]
    else:
        exercised = [
            "queries.build_ms", "queries.build_jobs", "queries.q1_pricing_summary.build_ms",
            "exec.q1_pricing_summary.execute_ms", "catalyst.analysis_ms",
            "catalyst.optimization_ms", "catalyst.planning_ms", "catalog.scan_rows",
            "catalog.scan_bytes", "exec.tasks", "streaming.batches",
            "streaming.batch_ms",
        ]
    assert all(values[m] > 0 for m in exercised), {m: values[m] for m in exercised}


def test_corrupted_query_result_trips_gate(monkeypatch):
    names = ["q1_pricing_summary", "rollup_order_volume"]
    run = harness.Run("queries_sf01", 7, 1, False)
    try:
        bench = query_workloads.QueryWorkload(run, names, sf=SF)
        bench.prepare_inputs()
        real = query_workloads.result_answer
        monkeypatch.setattr(
            query_workloads, "result_answer", lambda df: real(df.limit(1))
        )
        bench.setup()
        bench.one_pass(None)
    finally:
        run.close()
    assert bench.wrong == set(names)
    # the correctness pass and every later execution of both queries fail
    assert run.attempted == 4 and run.failed == 4


def test_wrong_ingest_counts_and_rows_trip_gate(monkeypatch):
    run = harness.Run("ingest_serve", 7, 1, False)
    bench = ingest_serve.IngestServe(run)
    try:
        bench.setup()
        assert run.failed == 0, run.problems
        real = bench.stream.next_batch

        def off_by_one():
            batch = real()
            batch.expected_counts = {
                **batch.expected_counts,
                "load_count": batch.expected_counts["load_count"] + 1,
            }
            return batch

        monkeypatch.setattr(bench.stream, "next_batch", off_by_one)
        bench.cycle(timed=True)
        assert run.failed == 1, run.problems  # the ingest; reads still pass
        mrn = sorted(bench.stream.loaded)[0]
        bench.stream.loaded[mrn] = {**bench.stream.loaded[mrn], "name": "Not Them"}
        bench.verify_warehouse()
        assert run.failed == 2
    finally:
        bench.close()
        run.close()


def test_seed_changes_inputs_and_order_not_answers():
    first, again, other = (gen.PatientStream(s).next_batch() for s in (1, 1, 2))
    assert first.records == again.records
    assert first.expected_counts == again.expected_counts
    assert first.records != other.records
    for batch in (first, other):
        c = batch.expected_counts
        assert c["extract_count"] == 500
        assert c["valid_count"] + c["invalid_count"] == 500
        assert c["consented_count"] + c["blocked_count"] == c["valid_count"]

    names = query_workloads.workload_queries()
    orders = [
        query_workloads.QueryWorkload(types.SimpleNamespace(seed=s), names)
        .rng.permutation(names).tolist()
        for s in (1, 1, 2)
    ]
    assert orders[0] == orders[1] != orders[2]

    # the tables do not depend on the run seed, so neither do the answers
    a, b = gen.make_tables(SF), gen.make_tables(SF)
    assert all(a[t].equals(b[t]) for t in a)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(harness.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    proc = _run("ingest_serve", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
