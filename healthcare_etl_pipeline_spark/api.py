"""HTTP serving layer: the reference's REST surface over the Spark engine.

The reference's entry point is an HTTP API (reference app/main.py:17-27;
app/api/routes.py — /health, POST /ingest, GET /patients/{id},
GET /patients). This module re-creates that surface with ONLY the standard
library (``http.server`` — no web framework exists in this container),
backed by the engine: atomic transactional ingest, consent-gated PHI-free
reads with audit rows, keyset-paginated listings, plus an analytics
extension exposing the registered query library.

Endpoints (prefix /api/v1, JSON in/out):
- ``GET  /health``            → HealthResponse-shaped liveness + session probe
- ``POST /ingest``            → body {"records": [...]} → PipelineResult shape
                                (atomic multi-table commit, routes.py:148 parity)
- ``GET  /patients/{id}``     → PatientResponse shape; 404 unknown id,
                                403 when data_sharing consent is absent;
                                the read appends an audit row (routes.py:190).
                                One job reads the patient row and its granted
                                consent rows (a union, no join); a 200 adds
                                one job, the audit write.
- ``GET  /patients``          → consent-gated listing; keyset pagination via
                                ``?after_mrn=`` (``?offset=`` kept for parity)
- ``GET  /queries``           → registered query names + tags
- ``POST /query/{name}``      → body {"sf_dir": ..., "limit": n} → rows

Serving posture: the handler thread submits Spark jobs against one shared
session (Spark schedules concurrent jobs fairly); the server is a thin
control plane — every data operation is the same operator the batch
pipeline uses, so API semantics and pipeline semantics cannot drift apart.
Every frame a request builds from Python rows (the ingest batch, the
``pipeline_runs`` row, the audit rows) goes through
``session.local_frame``: a JVM ``LocalRelation``, so the request's jobs
start no Python worker except for the encrypting pandas UDF.
Run via ``python -m healthcare_etl_pipeline_spark serve``.
"""

from __future__ import annotations

import datetime
import json
import re
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

MAX_LIMIT = 200


class EngineAPI:
    """Request-independent core: each method returns (status_code, payload)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse,
        sf_dir: str,
        *,
        audit_list_reads: bool = False,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.sf_dir = sf_dir
        # The reference audits single-patient reads (routes.py:190) but NOT
        # list reads (routes.py:209) — an inconsistency SURVEY §3.3 flags.
        # Default replicates the reference as-is; the flag opts in to ONE
        # audit row per served listing page (action='list', resource_id
        # null, detail records the page shape) — page-level, not per-row,
        # so a 200-row page costs one append, not 200.
        self.audit_list_reads = audit_list_reads

    # -- endpoints ----------------------------------------------------------

    def health(self) -> tuple[int, dict]:
        from healthcare_etl_pipeline_spark.session import health_check

        ok = health_check(self.spark)
        return 200 if ok else 503, {
            "status": "healthy" if ok else "unhealthy",
            "environment": "spark-local",
            "database": "connected" if ok else "disconnected",
        }

    def ingest(self, body: dict) -> tuple[int, dict]:
        from healthcare_etl_pipeline_spark.plans.pipeline import ingest

        records = body.get("records")
        if not isinstance(records, list) or not 1 <= len(records) <= 1000:
            return 422, {"detail": "records must be a list of 1..1000 objects"}
        summary = ingest(
            self.spark, records, self.warehouse, actor="api_user",
            batch_id=body.get("batch_id"),
        )
        status = 200 if summary["status"] == "success" else 500
        return status, {
            "pipeline": "patient_ingestion",
            "status": summary["status"],
            "tasks": summary["tasks"],
            "record_counts": summary["record_counts"],
        }

    def get_patient(self, patient_id: str) -> tuple[int, dict]:
        """One job reads the patient row and its granted ``data_sharing``
        consent rows together (a union of two filtered scans, no join);
        404/403 are decided from that result, and a served 200 appends
        one audit row built from the id already in hand."""
        patient = self.warehouse.read("patients").filter(F.col("id") == patient_id)
        granted = self.warehouse.read("consent_records").filter(
            (F.col("patient_id") == patient_id)
            & (F.col("consent_type") == "data_sharing")
            & F.col("granted")
        )
        rows = (
            patient.select(
                F.lit(True).alias("is_patient"), "mrn", "gender", "created_at"
            )
            .unionByName(
                granted.select(F.lit(False).alias("is_patient")),
                allowMissingColumns=True,
            )
            .collect()
        )
        found = [r for r in rows if r.is_patient]
        if not found:
            return 404, {"detail": "Patient not found"}
        if len(found) == len(rows):
            return 403, {"detail": "Patient has not granted data sharing consent"}
        row = found[0]
        self._append_audit("read", patient_id, None)
        return 200, {
            "id": patient_id,
            "mrn": row.mrn,
            "gender": row.gender,
            "created_at": str(row.created_at),
            "has_data_sharing_consent": True,
        }

    def list_patients(
        self,
        *,
        limit: int,
        offset: int | None,
        after_mrn: str | None,
        after_id: str | None = None,
    ) -> tuple[int, list]:
        from healthcare_etl_pipeline_spark.operators.reads import consented_listing

        limit = max(1, min(int(limit), MAX_LIMIT))
        # keyset cursor is (mrn, id); a bare after_mrn means "strictly past
        # that mrn", so the id component is pinned above any real uuid
        after = (
            (after_mrn, after_id if after_id is not None else "￿")
            if after_mrn is not None
            else None
        )
        page = consented_listing(
            self.warehouse.read("patients"),
            self.warehouse.read("consent_records"),
            after=after,
            offset=offset,
            limit=limit,
        )
        rows = page.collect()
        if self.audit_list_reads:
            self._append_audit(
                "list",
                None,
                json.dumps(
                    {
                        "rows": len(rows),
                        "limit": limit,
                        "offset": offset,
                        "after": list(after) if after else None,
                    }
                ),
            )
        return 200, [
            {
                "id": r.id,
                "mrn": r.mrn,
                "gender": r.gender,
                "created_at": str(r.created_at),
                "has_data_sharing_consent": True,
            }
            for r in rows
        ]

    def _append_audit(
        self, action: str, resource_id: str | None, detail: str | None
    ) -> None:
        """One ``audit_log`` row for a served read (reference audit.py:16-35)
        — a point read, or a listing page when ``audit_list_reads`` is set."""
        from healthcare_etl_pipeline_spark.session import local_frame
        from healthcare_etl_pipeline_spark.sources.warehouse import (
            AUDIT_LOG_SCHEMA,
        )

        now = datetime.datetime.now(datetime.timezone.utc)
        row = {
            "id": str(uuid.uuid4()),
            "actor": "api_user",
            "action": action,
            "resource_type": "Patient",
            "resource_id": resource_id,
            "detail": detail,
            "timestamp": now,
            "dt": now.date(),
        }
        self.warehouse.append(
            local_frame(self.spark, [row], AUDIT_LOG_SCHEMA), "audit_log"
        )

    def list_queries(self) -> tuple[int, list]:
        from healthcare_etl_pipeline_spark.queries import all_queries

        return 200, [
            {"name": n, "tags": list(s.tags), "has_oracle": s.oracle is not None}
            for n, s in sorted(all_queries().items())
        ]

    def run_query(self, name: str, body: dict) -> tuple[int, dict]:
        from healthcare_etl_pipeline_spark.queries import all_queries

        specs = all_queries()
        if name not in specs:
            return 404, {"detail": f"unknown query {name!r}"}
        sf_dir = body.get("sf_dir", self.sf_dir)
        limit = max(1, min(int(body.get("limit", 100)), 10_000))
        df = specs[name].fn(self.spark, sf_dir).limit(limit)
        rows = [json.loads(s) for s in df.toJSON().collect()]
        return 200, {"query": name, "row_count": len(rows), "rows": rows}


_ROUTES = [
    ("GET", re.compile(r"^/api/v1/health$")),
    ("POST", re.compile(r"^/api/v1/ingest$")),
    ("GET", re.compile(r"^/api/v1/patients/(?P<pid>[^/?]+)$")),
    ("GET", re.compile(r"^/api/v1/patients$")),
    ("GET", re.compile(r"^/api/v1/queries$")),
    ("POST", re.compile(r"^/api/v1/query/(?P<qname>[A-Za-z0-9_]+)$")),
]


def _make_handler(api: EngineAPI):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet by default
            pass

        def _reply(self, status: int, payload) -> None:
            data = json.dumps(payload).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length") or 0)
            if not n:
                return {}
            return json.loads(self.rfile.read(n) or b"{}")

        def _dispatch(self, method: str) -> None:
            from urllib.parse import parse_qs, urlparse

            url = urlparse(self.path)
            qs = {k: v[0] for k, v in parse_qs(url.query).items()}
            try:
                if method == "GET" and url.path == "/api/v1/health":
                    return self._reply(*api.health())
                if method == "POST" and url.path == "/api/v1/ingest":
                    return self._reply(*api.ingest(self._body()))
                if method == "GET" and url.path == "/api/v1/patients":
                    return self._reply(
                        *api.list_patients(
                            limit=int(qs.get("limit", 50)),
                            offset=int(qs["offset"]) if "offset" in qs else None,
                            after_mrn=qs.get("after_mrn"),
                            after_id=qs.get("after_id"),
                        )
                    )
                m = re.match(r"^/api/v1/patients/([^/?]+)$", url.path)
                if method == "GET" and m:
                    return self._reply(*api.get_patient(m.group(1)))
                if method == "GET" and url.path == "/api/v1/queries":
                    return self._reply(*api.list_queries())
                m = re.match(r"^/api/v1/query/([A-Za-z0-9_]+)$", url.path)
                if method == "POST" and m:
                    return self._reply(*api.run_query(m.group(1), self._body()))
                return self._reply(404, {"detail": "no such route"})
            except json.JSONDecodeError:
                return self._reply(400, {"detail": "invalid JSON body"})
            except Exception as e:  # noqa: BLE001 — one request must not kill the server
                return self._reply(500, {"detail": f"{type(e).__name__}: {e}"})

        def do_GET(self):  # noqa: N802 — http.server naming
            self._dispatch("GET")

        def do_POST(self):  # noqa: N802
            self._dispatch("POST")

    return Handler


def make_server(api: EngineAPI, host: str = "127.0.0.1", port: int = 0):
    """Build (not start) the threading HTTP server; port 0 → ephemeral."""
    return ThreadingHTTPServer((host, port), _make_handler(api))


def serve_background(api: EngineAPI, host: str = "127.0.0.1", port: int = 0):
    """Start the server on a daemon thread; returns (server, bound_port)."""
    srv = make_server(api, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
