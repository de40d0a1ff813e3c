"""Command-line front end: run queries, ingest batches, inspect the registry.

Usage:
    python -m healthcare_etl_pipeline_spark list [--tag TAG]
    python -m healthcare_etl_pipeline_spark run QUERY [--sf-dir DIR] [-n N]
    python -m healthcare_etl_pipeline_spark explain QUERY [--sf-dir DIR]
    python -m healthcare_etl_pipeline_spark ingest FILE.jsonl --warehouse DIR
    python -m healthcare_etl_pipeline_spark health
    python -m healthcare_etl_pipeline_spark serve --warehouse DIR

``ingest`` and ``serve`` open the same transactional warehouse: a batch is
committed once, so ``serve`` shows what ``ingest`` wrote, and a failed
``ingest`` leaves no row behind.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="healthcare_etl_pipeline_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("--tag", help="filter by tag")

    p_run = sub.add_parser("run", help="run a query and show rows")
    p_run.add_argument("query")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_run.add_argument("-n", type=int, default=20, help="rows to show")

    p_exp = sub.add_parser("explain", help="show a query's physical plan")
    p_exp.add_argument("query")
    p_exp.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    p_ing = sub.add_parser("ingest", help="ingest a JSONL patient batch")
    p_ing.add_argument("file")
    p_ing.add_argument("--warehouse", required=True)
    p_ing.add_argument("--strict", action="store_true")

    sub.add_parser("health", help="session liveness probe")

    p_srv = sub.add_parser("serve", help="HTTP API (reference REST surface)")
    p_srv.add_argument("--host", default="127.0.0.1")
    p_srv.add_argument("--port", type=int, default=8000)
    p_srv.add_argument("--warehouse", required=True)
    p_srv.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    args = parser.parse_args(argv)

    from healthcare_etl_pipeline_spark.queries import all_queries
    from healthcare_etl_pipeline_spark.session import get_spark, health_check

    if args.cmd == "list":
        for name, spec in sorted(all_queries().items()):
            if args.tag and args.tag not in spec.tags:
                continue
            oracle = "sql-oracle" if spec.oracle else "rows-only"
            print(f"{name:32s} [{oracle}] {' '.join(spec.tags)}")
        return 0

    spark = get_spark()

    if args.cmd == "health":
        ok = health_check(spark)
        print("ok" if ok else "FAILED")
        return 0 if ok else 1

    if args.cmd in ("run", "explain"):
        specs = all_queries()
        if args.query not in specs:
            print(f"unknown query {args.query!r}; try `list`", file=sys.stderr)
            return 2
        df = specs[args.query].fn(spark, args.sf_dir)
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            df.show(args.n, truncate=False)
        return 0

    if args.cmd == "serve":
        from healthcare_etl_pipeline_spark.api import EngineAPI, make_server
        from healthcare_etl_pipeline_spark.sources.warehouse import (
            TransactionalWarehouse,
        )

        wh = TransactionalWarehouse(spark, args.warehouse)
        wh.create_all()
        srv = make_server(
            EngineAPI(spark, wh, args.sf_dir), host=args.host, port=args.port
        )
        print(f"serving on http://{args.host}:{srv.server_address[1]}/api/v1")
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
        return 0

    if args.cmd == "ingest":
        from healthcare_etl_pipeline_spark.plans.pipeline import ingest
        from healthcare_etl_pipeline_spark.sources.warehouse import (
            TransactionalWarehouse,
        )

        with open(args.file) as fh:
            records = [json.loads(line) for line in fh if line.strip()]
        wh = TransactionalWarehouse(spark, args.warehouse)
        wh.create_all()
        summary = ingest(spark, records, wh, strict=args.strict)
        print(
            json.dumps(
                {
                    "status": summary["status"],
                    "record_counts": summary["record_counts"],
                    "tasks": summary["tasks"],
                }
            )
        )
        return 0 if summary["status"] == "success" else 1

    return 2


if __name__ == "__main__":
    sys.exit(main())
