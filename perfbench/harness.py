"""Run scaffolding shared by the workloads.

- ``Run``: one benchmark run — a private directory inside the checkout (temp
  files, Spark local dirs, warehouse, generated inputs; removed at the end),
  a seed-derived ``PHI_ENCRYPTION_KEY``, the Spark session's lifecycle, the
  attempted/failed tally and the result line.
- ``Tracer``: spans (name, start, end, parent, op id) kept in memory and
  written out when the run ends; per-op self times.
- ``SparkProbe``: readings the traced run takes from Spark's own status store
  (jobs, SQL executions and their plan metrics), the Python UDF profiler, the
  streaming progress events and the session's leftover state.
"""

from __future__ import annotations

import base64
import bisect
import contextlib
import datetime
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
DRIVER_MEMORY = "4g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def fernet_key(seed: int) -> str:
    digest = hashlib.sha256(f"perfbench-phi-key-{seed}".encode()).digest()
    return base64.urlsafe_b64encode(digest).decode()


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def process_tree_pss_mb(root: int) -> float:
    """Proportional resident set (Pss) summed over ``root`` and all its
    descendants, from /proc: shared pages of forked Python workers are
    counted once, not once per worker."""
    total_kb = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakMemory:
    """Samples the process tree's Pss in a background thread; ``peak_mb``
    is the largest sum seen."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> float:
        self.peak_mb = max(self.peak_mb, process_tree_pss_mb(os.getpid()))
        return self.peak_mb

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.sample()


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    id: int
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory spans. A root span is one client operation; spans opened on
    any thread while it is in flight become its descendants (one client, one
    operation in flight, so the open op is unambiguous)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._op: Span | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _open(self, name: str, parent: Span | None) -> Span:
        with self._lock:
            span = Span(
                id=len(self.spans),
                op=parent.op if parent else len(self.spans),
                name=name,
                parent=parent.id if parent else None,
                start=time.time(),
            )
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def op(self, name: str):
        if not self.enabled:
            yield None
            return
        span = self._open(name, None)
        self._op = span
        try:
            yield span
        finally:
            span.end = time.time()
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op
        span = self._open(name, parent)
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.time()
            stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span id → its duration minus the part its children cover (s)."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def worst_self_sum_error(self) -> float:
        """Largest |sum of an op's span self times / its wall time - 1|."""
        selfs = self.self_times()
        by_op: dict[int, float] = {}
        for s in self.spans:
            by_op[s.op] = by_op.get(s.op, 0.0) + selfs[s.id]
        worst = 0.0
        for root in self.roots():
            wall = root.end - root.start
            if wall > 0:
                worst = max(worst, abs(by_op[root.id] / wall - 1.0))
        return worst

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# -- Spark readings ------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Numeric total of a status-store metric string: ``'600,000'``,
    ``'10.3 MiB'`` or ``'total (min, med, max ...)\\n1.4 s (...)'``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit == "s":
        return value * 1000.0
    if unit == "m":
        return value * 60_000.0
    if unit == "h":
        return value * 3_600_000.0
    return value


@dataclass
class ExecStats:
    """Plan metrics summed over a set of SQL executions."""

    scan_rows: float = 0.0
    scan_bytes: float = 0.0
    files_read: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    peak_mem_bytes: float = 0.0


class SparkProbe:
    """Traced-run readings from a live session. Jobs and SQL executions are
    mapped to ops by submission time after the listener bus has drained."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._progress: list[dict] = []
        self._listener = None

    def _java(self, scala_collection):
        return self._conv.asJava(scala_collection)

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self) -> list[tuple[int, float, int]]:
        """(job id, submission epoch s, task count) of every retained job."""
        out = []
        for j in self._java(self.sc._jsc.sc().statusStore().jobsList(None)):
            sub = j.submissionTime()
            if sub.isDefined():
                out.append((j.jobId(), sub.get().getTime() / 1000.0, j.numTasks()))
        return out

    def executions(self) -> list[tuple[int, float]]:
        """(execution id, submission epoch s) of every retained SQL
        execution."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        return [
            (e.executionId(), e.submissionTime() / 1000.0)
            for e in self._java(store.executionsList())
        ]

    def exec_stats(self, execution_ids) -> ExecStats:
        store = self.spark._jsparkSession.sharedState().statusStore()
        stats = ExecStats()
        for eid in execution_ids:
            values = self._java(store.executionMetrics(eid))
            for node in self._java(store.planGraph(eid).allNodes()):
                is_scan = node.name().startswith("Scan")
                for m in self._java(node.metrics()):
                    raw = values.get(m.accumulatorId())
                    if not raw:
                        continue
                    name, v = m.name(), parse_metric(raw)
                    if is_scan and name == "number of output rows":
                        stats.scan_rows += v
                    elif is_scan and name == "size of files read":
                        stats.scan_bytes += v
                    elif is_scan and name == "number of files read":
                        stats.files_read += v
                    elif name == "shuffle bytes written":
                        stats.shuffle_bytes += v
                    elif name == "spill size":
                        stats.spill_bytes += v
                    elif name == "peak memory":
                        stats.peak_mem_bytes = max(stats.peak_mem_bytes, v)
        return stats

    # -- Python UDF profile ------------------------------------------------

    def enable_udf_profiler(self) -> None:
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def udf_seconds(self, module_file: str) -> float:
        """Cumulative time of the UDF bodies defined in the file named
        ``module_file`` (their nested calls included), summed over the
        profiled UDFs. The profiles key functions by file base name."""
        total = 0.0
        collector = self.spark._profiler_collector
        for stats in collector._perf_profile_results.values():
            for (filename, _line, func), entry in stats.stats.items():
                if os.path.basename(filename) == module_file and func.startswith("_"):
                    total += entry[3]  # cumulative time
        return total

    # -- streaming progress ------------------------------------------------

    def listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self._progress

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 — listener API
                pass

            def onQueryProgress(self, event):  # noqa: N802
                started = datetime.datetime.fromisoformat(event.progress.timestamp)
                progress.append(
                    {"time": started.timestamp(), **dict(event.progress.durationMs)}
                )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def stream_progress(self) -> list[dict]:
        return list(self._progress)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- leftover session state ----------------------------------------------

    def conf_snapshot(self) -> dict[str, str]:
        return dict(self.spark.conf.getAll)

    def leftovers(self, conf_before: dict[str, str]) -> dict[str, float]:
        conf_after = self.conf_snapshot()
        changed = {
            k
            for k in set(conf_before) | set(conf_after)
            if conf_before.get(k) != conf_after.get(k)
        }
        return {
            "session.conf_changed": float(len(changed)),
            "session.leaked_tables": float(len(self.spark.catalog.listTables())),
            "session.persisted_frames": float(
                self.sc._jsc.getPersistentRDDs().size()
            ),
        }


def assign_to_ops(items, windows) -> dict[int, list]:
    """Map each ``(key, epoch_s, ...)`` item to the op that was in flight when
    it was submitted. ``windows`` are the ops' ``(start, end)`` epoch
    seconds, in order; 2 ms of slack absorbs clock rounding."""
    starts = [w[0] for w in windows]
    out: dict[int, list] = {}
    for item in items:
        i = bisect.bisect_right(starts, item[1] + 0.002) - 1
        if i >= 0 and item[1] <= windows[i][1] + 0.002:
            out.setdefault(i, []).append(item)
    return out


# -- the run -------------------------------------------------------------------


def _set_env(values: dict[str, str | None]) -> None:
    for key, value in values.items():
        if value is None:
            os.environ.pop(key, None)
        else:
            os.environ[key] = value
    tempfile.tempdir = None  # re-read TMPDIR on next use


class Run:
    """One benchmark run: private directory, environment, session, tally."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        os.makedirs(RUNS_DIR, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=RUNS_DIR)
        tmp = os.path.join(self.dir, "tmp")
        local = os.path.join(self.dir, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        env = {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "PHI_ENCRYPTION_KEY": fernet_key(seed),
            "ETL_ENCRYPTION_KEY": None,
            # A bounded driver heap: under the engine's 16g default G1 grew
            # the heap by anywhere from 2 to 8 GB run to run, on a box shared
            # with other work; 4g holds every workload here.
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        }
        self._saved_env = {k: os.environ.get(k) for k in env}
        _set_env(env)
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.boot_s = 0.0

    def check(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a failure is kept for stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 50:
                self.problems.append(what)

    def boot(self):
        """Start the engine's session (``local[<cpus>]``) and run one job."""
        from healthcare_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            cpus=cpu_count(),
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.dir, "spark-warehouse"),
                # keep the JVM's scratch files (and its perf-data file, which
                # would go to /tmp) out of everything but the run directory
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.range(1).count()
        self.boot_s = time.perf_counter() - t0
        return self.spark

    def close(self) -> None:
        """Stop the session, end the JVM it launched and wait for it, then
        remove the run directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                self.spark.stop()
                gateway = SparkContext._gateway
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
                self.spark = None
        finally:
            _set_env(self._saved_env)
            shutil.rmtree(self.dir, ignore_errors=True)

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        for p in self.problems:
            print(f"FAILED: {p}", file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
