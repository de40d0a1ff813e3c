"""``ingest_serve``: the reference's own traffic through the HTTP API.

One closed-loop client on 127.0.0.1, one request in flight. A cycle is one
``POST /ingest`` of a seeded 500-patient batch, one keyset ``GET /patients``
page and five ``GET /patients/{id}`` (about one in ten for an unknown id, so
404 is the expected answer). The server is ``api.serve_background`` over an
``EngineAPI`` on a ``TransactionalWarehouse`` in the run's own directory.

Every response is checked: ingest ``record_counts`` against the generator's
counts, listing pages against the MRNs loaded so far, point reads against
the loaded records, and at the end the decrypted ``patients`` table against
every generated record that had to load.
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request

import numpy as np

from gen import PatientStream
from harness import Run, SparkProbe, assign_to_ops, median

PAGE_LIMIT = 50
GETS_PER_CYCLE = 5
UNKNOWN_GET_SHARE = 0.1
WARMUP_CYCLES = 2
DAG_STAGES = ("extract", "validate", "check_consent", "transform", "load")


class Client:
    """Blocking JSON client: one connection per request, like the reference's
    callers."""

    def __init__(self, base: str):
        self.base = base

    def call(self, method: str, path: str, body=None) -> tuple[int, object]:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(
            self.base + path,
            data=data,
            method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=170) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as err:
            return err.code, json.loads(err.read() or b"null")


class IngestServe:
    def __init__(self, run: Run):
        self.run = run
        self.stream = PatientStream(run.seed)
        self.rng = np.random.default_rng([run.seed, 2])
        self.known: dict[str, str] = {}  # patient id -> mrn, from listings
        self.samples: dict[str, list[float]] = {"ingest": [], "list": [], "get": []}
        self.ops: list[dict] = []  # timed ops, in order (trace bookkeeping)
        self.records_in_window = 0

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        from healthcare_etl_pipeline_spark.api import EngineAPI, serve_background
        from healthcare_etl_pipeline_spark.sources.warehouse import (
            Transaction,
            TransactionalWarehouse,
        )

        spark = self.run.boot()
        self.warehouse = TransactionalWarehouse(
            spark, os.path.join(self.run.dir, "warehouse")
        )
        self.warehouse.create_all()
        api = EngineAPI(spark, self.warehouse, self.run.dir)
        if self.run.trace:
            tracer = self.run.tracer
            for method in ("ingest", "get_patient", "list_patients"):
                setattr(api, method, tracer.wrap(f"api.{method}", getattr(api, method)))
            self._unpatch = [
                (Transaction, name, getattr(Transaction, name))
                for name in ("stage", "commit")
            ]
            for cls, name, fn in self._unpatch:
                setattr(cls, name, tracer.wrap(f"warehouse.{name}", fn))
        self.server, port = serve_background(api, host="127.0.0.1", port=0)
        self.client = Client(f"http://127.0.0.1:{port}/api/v1")
        for _ in range(WARMUP_CYCLES):
            self.cycle(timed=False)

    # -- one cycle -----------------------------------------------------------

    def _op(self, kind: str, timed: bool, method: str, path: str, body=None):
        with self.run.tracer.op(kind) as span:
            t0 = time.perf_counter()
            start = time.time()
            try:
                status, payload = self.client.call(method, path, body)
            except (OSError, ValueError) as exc:
                status, payload = -1, repr(exc)
            elapsed = time.perf_counter() - t0
        if timed:
            self.samples[kind].append(elapsed)
            self.ops.append(
                {"kind": kind, "start": start, "end": time.time(), "span": span,
                 "payload": payload if kind == "ingest" else None,
                 "status": status}
            )
        return status, payload

    def cycle(self, timed: bool) -> None:
        run = self.run
        batch = self.stream.next_batch()
        status, body = self._op(
            "ingest", timed, "POST", "/ingest", {"records": batch.records}
        )
        ok = (
            status == 200
            and isinstance(body, dict)
            and body.get("status") == "success"
            and body.get("record_counts") == batch.expected_counts
        )
        run.check(ok, f"ingest: status {status}, counts "
                      f"{body.get('record_counts') if isinstance(body, dict) else body}"
                      f" != {batch.expected_counts}")
        if ok and timed:
            self.records_in_window += len(batch.records)

        mrns = sorted(self.stream.loaded)
        after = mrns[int(self.rng.integers(0, len(mrns)))] if mrns else "MRN-"
        status, page = self._op(
            "list", timed, "GET", f"/patients?limit={PAGE_LIMIT}&after_mrn={after}"
        )
        expected = [m for m in mrns if m > after][:PAGE_LIMIT]
        got = [p.get("mrn") for p in page] if isinstance(page, list) else None
        run.check(status == 200 and got == expected,
                  f"list after {after}: status {status}, {got} != {expected}")
        if isinstance(page, list):
            for p in page:
                self.known[p["id"]] = p["mrn"]

        ids = sorted(self.known)
        for _ in range(GETS_PER_CYCLE):
            unknown = not ids or self.rng.random() < UNKNOWN_GET_SHARE
            pid = self.stream.unknown_id() if unknown else ids[
                int(self.rng.integers(0, len(ids)))
            ]
            status, body = self._op("get", timed, "GET", f"/patients/{pid}")
            if unknown:
                ok = status == 404
            else:
                rec = self.stream.loaded.get(self.known[pid], {})
                ok = (
                    status == 200
                    and body.get("mrn") == self.known[pid]
                    and body.get("gender") == rec.get("gender")
                )
            run.check(ok, f"get {pid} (unknown={unknown}): status {status} {body}")

    # -- end of run --------------------------------------------------------------

    def verify_warehouse(self) -> None:
        """Decrypt the committed ``patients`` and compare with the generator."""
        from healthcare_etl_pipeline_spark.functions.encryption import decrypt_col

        rows = (
            self.warehouse.read("patients")
            .select(
                "mrn",
                "gender",
                decrypt_col("encrypted_name").alias("name"),
                decrypt_col("encrypted_dob").alias("birthDate"),
                decrypt_col("encrypted_ssn").alias("ssn"),
            )
            .collect()
        )
        got = {r.mrn: (r.name, r.birthDate, r.ssn, r.gender) for r in rows}
        want = {
            m: (r["name"], r["birthDate"], r.get("ssn"), r["gender"])
            for m, r in self.stream.loaded.items()
        }
        wrong = [m for m in want if got.get(m) != want[m]]
        self.run.check(
            len(rows) == len(want) and not wrong,
            f"warehouse patients: {len(rows)} rows for {len(want)} loaded, "
            f"{len(wrong)} differ (e.g. {wrong[:3]})",
        )

    def close(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            server.shutdown()
            server.server_close()
        for cls, name, fn in getattr(self, "_unpatch", []):
            setattr(cls, name, fn)

    # -- metrics ---------------------------------------------------------------

    def end_to_end(self, window_s: float) -> dict[str, float]:
        n_requests = sum(len(v) for v in self.samples.values())
        return {
            "op_p50_s": median(self.samples["ingest"]),
            "requests_per_s": n_requests / window_s,
        }

    def per_layer(self, probe: SparkProbe) -> dict[str, float]:
        run = self.run
        out: dict[str, float] = {}
        ingests = [o for o in self.ops if o["kind"] == "ingest"]
        for stage in DAG_STAGES:
            out[f"dag.{stage}_ms"] = median(
                o["payload"]["tasks"][stage]["duration_ms"]
                for o in ingests
                if isinstance(o["payload"], dict) and "tasks" in o["payload"]
            )
        counts = [
            o["payload"]["record_counts"]
            for o in ingests
            if isinstance(o["payload"], dict) and "record_counts" in o["payload"]
        ]
        extracted = sum(c["extract_count"] for c in counts)
        out["pipeline.load_ratio"] = (
            sum(c["load_count"] for c in counts) / extracted if extracted else 0.0
        )

        probe.drain()
        windows = [(o["start"], o["end"]) for o in self.ops]
        jobs = assign_to_ops(probe.jobs(), windows)
        execs = assign_to_ops(probe.executions(), windows)

        def per_kind(kind, fn):
            return median(fn(i) for i, o in enumerate(self.ops) if o["kind"] == kind)

        out["pipeline.spark_jobs_per_ingest"] = per_kind(
            "ingest", lambda i: len(jobs.get(i, []))
        )
        out["warehouse.get_jobs"] = per_kind("get", lambda i: len(jobs.get(i, [])))
        out["warehouse.list_jobs"] = per_kind("list", lambda i: len(jobs.get(i, [])))
        out["warehouse.get_files_scanned"] = per_kind(
            "get",
            lambda i: probe.exec_stats(e[0] for e in execs.get(i, [])).files_read,
        )
        n_ops = max(1, len(self.ops))
        out["exec.tasks"] = sum(j[2] for v in jobs.values() for j in v) / n_ops
        totals = probe.exec_stats(e[0] for v in execs.values() for e in v)
        out["exec.shuffle_bytes"] = totals.shuffle_bytes / n_ops
        out["exec.spill_bytes"] = totals.spill_bytes / n_ops
        out["exec.peak_exec_mem_mb"] = totals.peak_mem_bytes / 2**20

        # spans: HTTP round trip minus the EngineAPI call; stage/commit sums
        tracer = run.tracer
        kids = tracer.children()
        methods = {"ingest": "api.ingest", "get": "api.get_patient",
                   "list": "api.list_patients"}
        api_self = {k: [] for k in methods}
        stage_ms, commit_ms = [], []
        for o in self.ops:
            root = o["span"]
            api_spans = [c for c in kids.get(root.id, []) if c.name == methods[o["kind"]]]
            api_s = sum(c.end - c.start for c in api_spans)
            api_self[o["kind"]].append((root.end - root.start - api_s) * 1000.0)
            if o["kind"] == "ingest":
                inner = [g for a in api_spans for g in _descendants(kids, a)]
                stage_ms.append(sum(s.end - s.start for s in inner
                                    if s.name == "warehouse.stage") * 1000.0)
                commit_ms.append(sum(s.end - s.start for s in inner
                                     if s.name == "warehouse.commit") * 1000.0)
        for kind, values in api_self.items():
            out[f"api.{kind}.self_ms"] = median(values)
        out["warehouse.stage_ms"] = median(stage_ms)
        out["warehouse.commit_ms"] = median(commit_ms)

        root_dir = self.warehouse.root
        n_files = 0
        for dirpath, _dirs, files in os.walk(root_dir):
            n_files += sum(f.endswith(".parquet") for f in files)
        out["warehouse.files"] = float(n_files)
        patients_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(self.warehouse.path("patients"))
            for f in files
            if f.endswith(".parquet")
        )
        out["warehouse.bytes_per_record"] = patients_bytes / max(
            1, len(self.stream.loaded)
        )
        n_ingests = max(1, len(self.samples["ingest"]))
        out["encryption.udf_self_s"] = (
            probe.udf_seconds("encryption.py") / n_ingests
        )
        gets = sorted(self.samples["get"])
        out["serve.get_p50_s"] = median(gets)
        out["serve.get_p90_s"] = gets[int(0.9 * (len(gets) - 1))] if gets else 0.0
        out["serve.list_p50_s"] = median(self.samples["list"])
        out["serve.records_per_s"] = (
            self.records_in_window / sum(self.samples["ingest"])
            if self.samples["ingest"]
            else 0.0
        )
        return out


def _descendants(kids, span):
    out, todo = [], list(kids.get(span.id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def measure(run: Run) -> tuple[dict, dict]:
    """Set up, run cycles for ``run.seconds``, check, and return
    (end-to-end metrics, per-layer metrics)."""
    bench = IngestServe(run)
    try:
        t0 = time.perf_counter()
        bench.setup()
        setup_s = time.perf_counter() - t0
        probe = SparkProbe(run.spark) if run.trace else None
        if probe is not None:
            conf_before = probe.conf_snapshot()
            probe.enable_udf_profiler()
            conf_before["spark.sql.pyspark.udf.profiler"] = "perf"
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < run.seconds:
            bench.cycle(timed=True)
        window_s = time.perf_counter() - t0
        e2e = {"setup_s": setup_s, **bench.end_to_end(window_s)}
        layer = bench.per_layer(probe) if probe is not None else {}
        bench.verify_warehouse()
        if probe is not None:
            layer.update(probe.leftovers(conf_before))
        return e2e, layer
    finally:
        bench.close()
