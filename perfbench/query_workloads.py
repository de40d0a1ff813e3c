"""``queries_sf01``: eleven of the 24 ``bench.HEADLINE`` queries, run cold
as ``POST /query`` pays them.

One closed-loop client, one query in flight. An operation builds the query
(``fn(spark, sf_dir)``) and executes it into the noop sink. The run first
makes the sf0.1 tables (fixed content, see ``gen.TABLE_SEED``), then, outside
the timed window, executes every query once, collects its rows and compares
them with the registered DuckDB oracle through ``tools/check_oracle.row_set``;
that pass is also the warm-up. The timed window runs whole passes over the
queries, each pass in an order drawn from the seed, until ``--seconds`` have
elapsed. A query whose rows differ from its oracle counts as failed in every
execution of the run.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import numpy as np

import gen
from harness import CACHE_DIR, ROOT, Run, SparkProbe, assign_to_ops, median

SF = 0.1

#: one or two headliners per layer: catalog scans, joins, aggregation and
#: windows in Catalyst (q1, q3, q18, top_orders), the joins and time-series
#: operators (asof, sessionize), streaming, and the dedup / similarity / BPE
#: / corpus operators with their Python UDFs and heavy plan builds
QUERIES = {
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_volume_customers",
    "top_orders_per_customer",
    "asof_join_purchase_click",
    "sessionize_events",
    "stream_tumbling_counts",
    "simhash_docs",
    "cosine_topk_bruteforce",
    "token_count_bpe",
    "corpus_prep_pipeline",
}


def workload_queries() -> list[str]:
    """The workload's queries, in ``bench.HEADLINE`` order."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from bench import HEADLINE

    return [n for n in HEADLINE if n in QUERIES]


def _row_set():
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_oracle import row_set

    return row_set


def answer_of(cols, rows) -> dict:
    """Order-insensitive fingerprint of a result: sorted column names, row
    count and a digest of ``check_oracle.row_set``."""
    digest = hashlib.sha256("\n".join(_row_set()(cols, rows)).encode()).hexdigest()
    return {"cols": sorted(cols), "rows": len(rows), "digest": digest}


def result_answer(df) -> dict:
    """``answer_of`` for a built query: its rows are collected through Arrow
    and read back as Python values, zoned timestamps as naive UTC (what
    ``collect()`` returns in a UTC session)."""
    import pyarrow as pa

    table = df.toArrow()
    columns = []
    for i, f in enumerate(table.schema):
        col = table.column(i)
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            col = col.cast(pa.timestamp(f.type.unit))
        columns.append(col.to_pylist())
    return answer_of(table.column_names, [list(r) for r in zip(*columns)])


def oracle_answers(sf_dir: str, sf: float, names: list[str]) -> dict[str, dict]:
    """Each query's DuckDB oracle answer over the generated tables.

    The tables are a pure function of ``(gen.py, sf, TABLE_SEED)``, so an
    answer is kept under ``.perfbench_cache`` keyed by those and the oracle
    SQL; a changed oracle or generator computes afresh.
    """
    import duckdb

    from healthcare_etl_pipeline_spark.catalog import TABLES, table_path
    from healthcare_etl_pipeline_spark.queries import all_queries

    specs = all_queries()
    with open(gen.__file__, "rb") as fh:
        gen_digest = hashlib.sha256(fh.read()).hexdigest()
    os.makedirs(CACHE_DIR, exist_ok=True)
    out, con = {}, None
    for name in names:
        sql = specs[name].oracle
        key = hashlib.sha256(
            f"{gen_digest}|{sf}|{gen.TABLE_SEED}|{duckdb.__version__}|{sql}".encode()
        ).hexdigest()[:24]
        path = os.path.join(CACHE_DIR, f"oracle-{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                out[name] = json.load(fh)
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_path(sf_dir, t)}')"
                )
        res = con.execute(sql)
        out[name] = answer_of([d[0] for d in res.description], res.fetchall())
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(out[name], fh)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


class QueryWorkload:
    def __init__(self, run: Run, names: list[str], sf: float = SF):
        self.run = run
        self.names = names
        self.sf = sf
        self.rng = np.random.default_rng([run.seed, 3])
        self.wrong: set[str] = set()
        self.ops: list[dict] = []
        self.pass_s: list[float] = []  # wall time of each timed pass

    def prepare_inputs(self) -> None:
        self.sf_dir = os.path.join(self.run.dir, "data", f"sf{self.sf}")
        gen.write_tables(self.sf_dir, self.sf)
        self.oracle = oracle_answers(self.sf_dir, self.sf, self.names)

    def setup(self) -> None:
        """Session boot, then the correctness pass: one cold execution of
        every query in a seeded order, its rows compared with the oracle."""
        from healthcare_etl_pipeline_spark.queries import all_queries

        spark = self.run.boot()
        self.specs = all_queries()
        for name in self.rng.permutation(self.names).tolist():
            try:
                got = result_answer(self.specs[name].fn(spark, self.sf_dir))
            except Exception as exc:  # noqa: BLE001 — a failing query is a result
                got = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            want = self.oracle[name]
            if got != want:
                self.wrong.add(name)
            self.run.check(got == want, f"{name}: {got} != oracle {want}")

    def one_pass(self, probe: SparkProbe | None) -> None:
        spark, tracer, sc = self.run.spark, self.run.tracer, self.run.spark.sparkContext
        started = time.perf_counter()
        for name in self.rng.permutation(self.names).tolist():
            op_id = len(self.ops)
            op = {"name": name, "start": time.time()}
            ok = name not in self.wrong
            t0 = time.perf_counter()
            with tracer.op(f"query:{name}") as root:
                try:
                    # labels the op's jobs and SQL executions in the status store
                    sc.setJobGroup(f"perfbench-{op_id}", f"perfbench {op_id} {name}")
                    with tracer.span("queries.build"):
                        df = self.specs[name].fn(spark, self.sf_dir)
                    t1 = time.perf_counter()
                    op["built"] = time.time()
                    if probe is not None:
                        with tracer.span("catalyst.plan"):
                            op["phases"] = self._force_phases(df)
                    with tracer.span("exec.noop_write"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 — count, keep going
                    ok = False
                    t1 = time.perf_counter()
                    self.run.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            t2 = time.perf_counter()
            op.update(end=time.time(), span=root, build_s=t1 - t0, total_s=t2 - t0,
                      exec_s=t2 - t1)
            self.ops.append(op)
            self.run.check(ok, f"{name}: execution failed or output wrong")
        self.pass_s.append(time.perf_counter() - started)

    @staticmethod
    def _force_phases(df) -> dict[str, float]:
        """Optimize and plan the built frame now, so its QueryExecution
        tracker holds all three Catalyst phases (ms)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        conv = df.sparkSession.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        jmap = conv.asJava(phases)
        return {k: float(jmap[k].durationMs()) for k in jmap.keySet()}

    # -- metrics ---------------------------------------------------------------

    def end_to_end(self, window_s: float) -> dict[str, float]:
        # The unit of work is a pass: the client's 11 answers. A median over
        # single queries would jump between the mix's distinct query costs.
        return {
            "op_p50_s": median(self.pass_s),
            "requests_per_s": len(self.ops) / window_s,
        }

    def per_layer(self, probe: SparkProbe) -> dict[str, float]:
        out: dict[str, float] = {}
        ops = self.ops
        out["queries.build_ms"] = median(o["build_s"] * 1000 for o in ops)
        for name in self.names:
            mine = [o for o in ops if o["name"] == name]
            out[f"queries.{name}.build_ms"] = median(o["build_s"] * 1000 for o in mine)
            out[f"exec.{name}.execute_ms"] = median(o["exec_s"] * 1000 for o in mine)
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = median(
                o.get("phases", {}).get(phase, 0.0) for o in ops
            )

        probe.drain()
        all_jobs = probe.jobs()
        builds = [(o["start"], o.get("built", o["end"])) for o in ops]
        build_jobs = assign_to_ops(all_jobs, builds)
        out["queries.build_jobs"] = sum(map(len, build_jobs.values())) / len(self.pass_s)
        windows = [(o["start"], o["end"]) for o in ops]
        jobs = assign_to_ops(all_jobs, windows)
        execs = assign_to_ops(probe.executions(), windows)
        n_ops = max(1, len(ops))
        totals = probe.exec_stats(e[0] for v in execs.values() for e in v)
        out["catalog.scan_rows"] = totals.scan_rows / n_ops
        out["catalog.scan_bytes"] = totals.scan_bytes / n_ops
        out["exec.shuffle_bytes"] = totals.shuffle_bytes / n_ops
        out["exec.spill_bytes"] = totals.spill_bytes / n_ops
        out["exec.peak_exec_mem_mb"] = totals.peak_mem_bytes / 2**20
        out["exec.tasks"] = sum(j[2] for v in jobs.values() for j in v) / n_ops

        progress = probe.stream_progress()
        by_op = assign_to_ops([(i, p["time"]) for i, p in enumerate(progress)], windows)
        stream_ops = list(by_op.values())
        out["streaming.batches"] = median(len(v) for v in stream_ops)
        batches = [progress[i] for v in stream_ops for i, _t in v]
        for key, metric in (
            ("triggerExecution", "batch_ms"),
            ("addBatch", "addBatch_ms"),
            ("walCommit", "walCommit_ms"),
            ("commitOffsets", "commitOffsets_ms"),
        ):
            out[f"streaming.{metric}"] = median(b.get(key, 0.0) for b in batches)

        out["encryption.udf_self_s"] = probe.udf_seconds("encryption.py") / n_ops
        return out


def measure(run: Run, sf: float) -> tuple[dict, dict]:
    names = workload_queries()
    bench = QueryWorkload(run, names, sf)
    bench.prepare_inputs()
    t0 = time.perf_counter()
    bench.setup()
    setup_s = time.perf_counter() - t0
    probe = SparkProbe(run.spark) if run.trace else None
    if probe is not None:
        conf_before = probe.conf_snapshot()
        probe.enable_udf_profiler()
        conf_before["spark.sql.pyspark.udf.profiler"] = "perf"
        probe.listen_streams()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < run.seconds:
        bench.one_pass(probe)
    window_s = time.perf_counter() - t0
    e2e = {"setup_s": setup_s, **bench.end_to_end(window_s)}
    layer = {}
    if probe is not None:
        layer = bench.per_layer(probe)
        probe.close()
        layer.update(probe.leftovers(conf_before))
    return e2e, layer
