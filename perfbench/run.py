"""Benchmark entry point: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, measured with tracing off;
``--trace 1`` runs the same workload with spans and Spark readings on and
prints the per-layer metrics (spans are written to ``.perfbench_traces/``).
The last line of standard output is the result object; a run that cannot
start (for example, without the engine package beside it) exits non-zero
without printing one. See DESIGN.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, PeakMemory, Run  # noqa: E402

WORKLOADS = ("ingest_serve", "queries_sf01")
TRACES_DIR = os.path.join(ROOT, ".perfbench_traces")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_workload(run: Run, sf: float) -> tuple[dict, dict]:
    if run.workload == "ingest_serve":
        import ingest_serve

        return ingest_serve.measure(run)
    import query_workloads

    return query_workloads.measure(run, sf)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--sf", type=float, default=0.1,
        help="scale factor of the query workload's tables (default 0.1)",
    )
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import healthcare_etl_pipeline_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine: {exc}", file=sys.stderr)
        return 2
    spec = load_spec()

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    memory = PeakMemory() if run.trace else None
    try:
        e2e, layer = run_workload(run, args.sf)
        if memory is not None:
            layer["session.peak_rss_mb"] = memory.stop()
    finally:
        if memory is not None:
            memory.stop()
        run.close()

    if run.trace:
        os.makedirs(TRACES_DIR, exist_ok=True)
        run.tracer.dump(
            os.path.join(TRACES_DIR, f"{args.workload}-seed{args.seed}.json")
        )
        layer.update(
            {
                "session.boot_s": run.boot_s,
                "failed_ratio": run.failed / max(1, run.attempted),
                "trace.op_p50_s": e2e["op_p50_s"],
                "trace.self_sum_error": run.tracer.worst_self_sum_error(),
            }
        )
        wanted = spec["per_layer"]
        values = layer
    else:
        wanted = spec["end_to_end"]
        values = e2e
    metrics = {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in wanted}
    print(json.dumps(run.result(metrics)))
    return 0


if __name__ == "__main__":
    t_start = time.perf_counter()
    code = main()
    print(f"run took {time.perf_counter() - t_start:.1f} s", file=sys.stderr)
    sys.exit(code)
