"""CommitBackend seam: the commit protocol must hold on BOTH storage
models — POSIX (atomic rename + link) and object stores (conditional PUT
only, no rename atomicity) — including under injected races at every
protocol step (sources/commit_backend.py).

Reference parity note: the reference delegates commit atomicity to
Postgres (reference app/api/routes.py:148); at 100 TB the warehouse's
marker protocol must supply it from storage primitives instead, and an
S3-class deployment only has conditional PUT.
"""

import json
import os
import threading

import pytest

from healthcare_etl_pipeline_spark.plans.pipeline import ingest
from healthcare_etl_pipeline_spark.sources.commit_backend import (
    EXISTS,
    IN_FLIGHT,
    PUBLISHED,
    ConditionalPutBackend,
    LocalFSBackend,
)
from healthcare_etl_pipeline_spark.sources.warehouse import (
    TransactionalWarehouse,
)
from tests.conftest import make_patient

BACKENDS = {
    "localfs": LocalFSBackend,
    "conditional_put": ConditionalPutBackend,
}


@pytest.fixture(params=sorted(BACKENDS))
def backend_name(request):
    return request.param


@pytest.fixture
def twh(spark, tmp_path, backend_name):
    wh = TransactionalWarehouse(
        spark, str(tmp_path / "wh"), backend=BACKENDS[backend_name]()
    )
    wh.create_all()
    return wh


# -- primitive semantics (no Spark) -----------------------------------------


def test_put_if_absent_exactly_once(tmp_path, backend_name):
    b = BACKENDS[backend_name]()
    p = str(tmp_path / "meta" / "m.json")
    assert b.put_if_absent(p, '{"v": 1}') is True
    assert b.put_if_absent(p, '{"v": 2}') is False
    with open(p, encoding="utf-8") as fh:
        assert json.load(fh) == {"v": 1}  # loser never overwrites


def test_put_if_absent_threads_single_winner(tmp_path, backend_name):
    b = BACKENDS[backend_name]()
    p = str(tmp_path / "m.json")
    wins = []
    barrier = threading.Barrier(8)

    def attempt(i):
        barrier.wait()
        if b.put_if_absent(p, str(i)):
            wins.append(i)

    ts = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(wins) == 1
    with open(p, encoding="utf-8") as fh:
        assert fh.read() == str(wins[0])  # content is the winner's, whole


def _mkstaged(tmp_path, name="src", files=3):
    src = tmp_path / name
    src.mkdir(parents=True)
    for i in range(files):
        (src / f"part-{i}.parquet").write_bytes(b"x" * 10)
    return str(src)


def test_publish_dir_wins_and_consumes_src(tmp_path, backend_name):
    b = BACKENDS[backend_name]()
    src = _mkstaged(tmp_path)
    dest = str(tmp_path / "t" / "__run_id=r1")
    os.makedirs(os.path.dirname(dest))
    assert b.publish_dir(src, dest) == PUBLISHED
    assert not os.path.exists(src)
    assert b.is_complete_dir(dest)
    names = {f for f in os.listdir(dest) if f.endswith(".parquet")}
    assert names == {"part-0.parquet", "part-1.parquet", "part-2.parquet"}


def test_publish_dir_second_committer_sees_exists(tmp_path, backend_name):
    b = BACKENDS[backend_name]()
    dest = str(tmp_path / "t" / "__run_id=r1")
    os.makedirs(os.path.dirname(dest))
    assert b.publish_dir(_mkstaged(tmp_path, "a"), dest) == PUBLISHED
    assert b.publish_dir(_mkstaged(tmp_path, "b"), dest) == EXISTS
    # the loser's staging was NOT consumed (caller discards it)
    assert os.path.exists(str(tmp_path / "b"))


def test_conditional_put_claimed_but_incomplete_is_in_flight(tmp_path):
    """No-rename model: a peer that died between claim and sentinel leaves
    dest observably IN_FLIGHT, never half-visible as complete."""
    crashed = ConditionalPutBackend(
        race_hook=lambda ev, p: (_ for _ in ()).throw(KeyboardInterrupt)
        if ev == "sentinel"
        else None
    )
    dest = str(tmp_path / "t" / "__run_id=r1")
    os.makedirs(os.path.dirname(dest))
    with pytest.raises(KeyboardInterrupt):
        crashed.publish_dir(_mkstaged(tmp_path, "a"), dest)
    b = ConditionalPutBackend()
    assert not b.is_complete_dir(dest)
    assert b.publish_dir(_mkstaged(tmp_path, "b"), dest) == IN_FLIGHT


# -- full warehouse flow under each backend ----------------------------------


def test_ingest_commit_read_roundtrip(spark, twh):
    summary = ingest(spark, [make_patient()], twh, batch_id="b1")
    assert summary["txn"]["committed"] is True
    assert twh.read("patients").count() == 1
    assert twh.read("consent_records").count() == 2
    # idempotent re-run is a no-op
    again = ingest(spark, [make_patient()], twh, batch_id="b1")
    assert again["status"] == "skipped"
    assert twh.read("patients").count() == 1


def test_abort_leaves_nothing_visible(spark, twh):
    txn = twh.begin("ab1")
    txn.stage(
        spark.createDataFrame(
            [("r", "p", "run", "completed")],
            "id string, pipeline_name string, status string, errors string",
        ).selectExpr(
            "id",
            "pipeline_name",
            "'completed' as status",
            "current_timestamp() as started_at",
            "current_timestamp() as completed_at",
            "cast(1 as long) as input_record_count",
            "cast(1 as long) as output_record_count",
            "errors",
            "cast(null as string) as dag_definition",
        ),
        "pipeline_runs",
    )
    txn.abort()
    assert twh.read("pipeline_runs").count() == 0


def test_crash_after_data_publish_before_marker_is_recovered_by_live_peer(
    spark, twh
):
    """Two committers of one batch_id race; the first dies AFTER
    publishing its data dirs but BEFORE the marker. The live peer must
    complete the commit (previously this was a silently-lost write)."""
    run_df = spark.range(1).selectExpr(
        "'r1' as id",
        "'p' as pipeline_name",
        "'completed' as status",
        "current_timestamp() as started_at",
        "current_timestamp() as completed_at",
        "cast(1 as long) as input_record_count",
        "cast(1 as long) as output_record_count",
        "cast(null as string) as errors",
        "cast(null as string) as dag_definition",
    )
    # both transactions begin BEFORE either stages: begin(batch_id) wipes
    # prior half-staged attempts of the batch, so the later begin must not
    # run after the peer staged (live-race contract)
    txn_a = twh.begin("race1")
    txn_b = twh.begin("race1")
    txn_a.stage(run_df, "pipeline_runs")
    txn_b.stage(run_df, "pipeline_runs")

    # A publishes data, then "dies" before the marker: emulate by running
    # its commit with a marker put that always fails
    real_put = twh.backend.put_if_absent

    def dying_put(path, data):
        if path == twh.marker_path("race1"):
            raise OSError("process died before marker publish")
        return real_put(path, data)

    twh.backend.put_if_absent = dying_put
    with pytest.raises(OSError):
        txn_a.commit()
    twh.backend.put_if_absent = real_put
    assert twh.read("pipeline_runs").count() == 0  # nothing visible yet

    assert txn_b.commit() is True  # live peer finishes the batch
    assert twh.read("pipeline_runs").count() == 1


def test_concurrent_distinct_batches_all_commit_with_unique_seqs(spark, twh):
    n = 6
    dfs = {
        f"cb{i}": spark.range(1).selectExpr(
            f"'row{i}' as id",
            "'p' as pipeline_name",
            "'completed' as status",
            "current_timestamp() as started_at",
            "current_timestamp() as completed_at",
            "cast(1 as long) as input_record_count",
            "cast(1 as long) as output_record_count",
            "cast(null as string) as errors",
            "cast(null as string) as dag_definition",
        )
        for i in range(n)
    }
    txns = {}
    for bid, df in dfs.items():
        txns[bid] = twh.begin(bid)
        txns[bid].stage(df, "pipeline_runs")
    barrier = threading.Barrier(n)
    results = {}

    def commit(bid):
        barrier.wait()
        results[bid] = txns[bid].commit()

    ts = [threading.Thread(target=commit, args=(b,)) for b in txns]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert all(results.values())
    seqs = [s["seq"] for s in twh.snapshots()]
    assert len(seqs) == len(set(seqs)) == n  # strict total order, no dup
    assert twh.read("pipeline_runs").count() == n


def test_fsck_and_vacuum_ignore_publish_claims(spark, twh, tmp_path):
    """Object-store claim files (``<dest>.publish``) are plumbing: never
    misread as orphan runs, and reclaimed once their run dir is gone."""
    ingest(spark, [make_patient()], twh, batch_id="ok1")
    # a dead half-publish: claim exists, dest incomplete, no marker
    txn = twh.begin()
    dead_dest = twh.run_dir("pipeline_runs", txn.run_id)
    claim = os.path.join(
        os.path.dirname(dead_dest), ".publish." + os.path.basename(dead_dest)
    )
    twh.backend.put_if_absent(claim, "nonce")
    report = twh.fsck()
    for table_report in report.values():
        for bucket in table_report.values():
            assert not any(".publish" in x for x in bucket)
    twh.vacuum()
    assert not os.path.exists(claim)
    assert twh.read("patients").count() == 1  # live data untouched


def test_crash_mid_copy_then_retry_republishes(spark, tmp_path):
    """Conditional-put only: die after ONE copied object; a begin() retry
    of the same batch_id must wipe the partial dest and land the batch."""
    state = {"copied": 0, "arm": True}

    def hook(ev, path):
        if ev == "copy_file" and state["arm"]:
            state["copied"] += 1
            if state["copied"] >= 2:
                raise KeyboardInterrupt("died mid-copy")

    wh = TransactionalWarehouse(
        spark, str(tmp_path / "wh2"), backend=ConditionalPutBackend(hook)
    )
    wh.create_all()
    with pytest.raises(KeyboardInterrupt):
        ingest(spark, [make_patient()], wh, batch_id="crashy")
    assert wh.read("patients").count() == 0  # half-copy invisible
    state["arm"] = False  # retry runs clean
    summary = ingest(spark, [make_patient()], wh, batch_id="crashy")
    assert summary["txn"]["committed"] is True
    assert wh.read("patients").count() == 1
    assert wh.read("consent_records").count() == 2


def test_put_if_absent_cross_process_single_winner(tmp_path, backend_name):
    """Real OS-level contention: 8 separate PROCESSES race put_if_absent
    on one path. The in-process thread test can't catch a backend that
    accidentally relies on interpreter-level locking; this exercises the
    actual O_EXCL/link atomicity the protocol claims. Exactly one wins
    and the surviving object is that winner's payload, intact."""
    import subprocess
    import sys

    target = str(tmp_path / "marker.json")
    code = (
        "import sys\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from healthcare_etl_pipeline_spark.sources.commit_backend import (\n"
        "    LocalFSBackend, ConditionalPutBackend)\n"
        "be = LocalFSBackend() if sys.argv[1] == 'localfs' "
        "else ConditionalPutBackend()\n"
        "ok = be.put_if_absent(sys.argv[2], 'payload-' + sys.argv[3])\n"
        "print('WON' if ok else 'LOST')\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code, backend_name, target, str(i)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for i in range(8)
    ]
    outcomes = [p.communicate()[0].strip() for p in procs]
    assert all(p.returncode == 0 for p in procs)
    assert outcomes.count("WON") == 1, outcomes
    winner = outcomes.index("WON")
    with open(target) as fh:
        assert fh.read() == f"payload-{winner}"
