"""Checkpoint / lineage / exact-resume tests (BASELINE.json mandate)."""

import json
import os
import sys
import threading
import time
import uuid

import pytest
from pyspark.sql import functions as F

from tilecloud_chain_spark import geometry as G
from tilecloud_chain_spark.checkpoint import CheckpointStore, with_lineage
from tilecloud_chain_spark.config import LAYERS, SWISSGRID_5
from tilecloud_chain_spark.plans import pipeline as P


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "ckpt")


def test_with_lineage_single_pass(spark):
    df = spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("cell"), F.lit(b"xx").alias("data")
    )
    mixed = with_lineage(df, cell_col="cell", bytes_col="data")
    rows = mixed.collect()
    data = [r for r in rows if r._lineage is None]
    lin = [r._lineage for r in rows if r._lineage is not None]
    assert len(data) == 1000
    assert len(lin) == 4  # one per partition
    assert sum(l.row_count for l in lin) == 1000
    assert sum(l.bytes for l in lin) == 2000
    assert min(l.cell_min for l in lin) == 0
    assert max(l.cell_max for l in lin) == 999
    assert all(l.wall_ms >= 0 for l in lin)


def _tile_job(spark, store, zooms, **kw):
    geom = G.parse_wkt(LAYERS["line"].geom_wkt)
    return P.generate_tiles(spark, SWISSGRID_5, LAYERS["line"], {z: geom for z in zooms},
                            store, zooms=zooms, **kw)


def _run_line_job(spark, root):
    store = CheckpointStore(spark, root)
    return store, _tile_job(spark, store, [0, 1], meta_buffer=32)


@pytest.fixture(scope="module")
def line_job(spark, tmp_path_factory, fixed_join_plans):
    """One finished line-layer tile job, (store, job_id), run with one plan
    per query so that ``test_repeat_tile_job_compiles_no_class`` can
    repeat it."""
    with fixed_join_plans():
        return _run_line_job(spark, str(tmp_path_factory.mktemp("line")))


def _tiles(store, job_id):
    return sorted((r.z, r.x, r.y, r.data) for r in store.output(job_id, "tiles").collect())


def test_repeat_tile_job_compiles_no_class(spark, line_job, fixed_join_plans, count_compiles,
                                           tmp_path):
    """A second identical tile job finds every generated class in Spark's
    codegen cache and stores the same tiles. Runs first in the module, so
    the only job before it is the ``line_job`` fixture's."""
    with fixed_join_plans():
        again, n = count_compiles(_run_line_job, spark, str(tmp_path))
    assert n == 0
    assert _tiles(*again) == _tiles(*line_job)


def test_pipeline_checkpoint_golden_and_lineage(line_job):
    store, job_id = line_job
    out = store.output(job_id, "tiles", 0)
    got = {(r.x, r.y) for r in out.select("x", "y").collect()}
    assert got == {(6, 5), (7, 5), (5, 6), (6, 6), (4, 7), (5, 7)}  # reference golden

    lin = store.lineage(job_id)
    assert lin.count() >= 2  # at least one partition row per zoom stage
    tot = lin.agg(F.sum("row_count")).collect()[0][0]
    assert tot == store.output(job_id, "tiles").count()
    rep = store.report(job_id)
    assert rep["rows"] == tot and rep["bytes"] > 0

    # queue bookkeeping: meta_tiles_total recorded (postgresql.py:285-290)
    assert store.job(job_id)["meta_tiles_total"] == store.queue(job_id).count()


def _same_report(store, job_id):
    """``report()`` without the fields that time the run."""
    rep = store.report(job_id)
    return rep["rows"], rep["bytes"], rep["partitions"]


def test_tile_job_census(spark, count_jobs, tmp_path):
    """The line layer at zooms 0-3 runs at most 7 Spark jobs: plan and
    enqueue, the queue count, one job per zoom stage. The zooms are
    listed from the queue's partition directories, and the jobs the
    zoom wave's threads start carry the caller's job group, so all are
    counted."""
    store = CheckpointStore(spark, str(tmp_path))
    job_id, n = count_jobs(_tile_job, spark, store, [0, 1, 2, 3])
    assert n <= 7
    assert store.queue_zooms(job_id) == [0, 1, 2, 3]
    assert all(store.stage_status(job_id, "tiles", z) == "done" for z in range(4))


@pytest.mark.parametrize("partial_queue", [False, True])
def test_job_killed_before_its_queue_committed_resumes(spark, line_job, tmp_path,
                                                       partial_queue):
    """A job killed after ``open_job`` and before ``enqueue`` committed
    (no queue, or part of one written) resumes: the partial queue is
    cleared, the plan re-runs, and tiles and metatile total equal an
    uninterrupted run's."""
    store = CheckpointStore(spark, str(tmp_path))
    job_id = store.open_job("line", {"meta_buffer": 32, "fmt": "png"})
    if partial_queue:
        geom = G.parse_wkt(LAYERS["line"].geom_wkt)
        metas = P.plan_metatiles(spark, SWISSGRID_5, LAYERS["line"], {0: geom}, [0])
        (metas.withColumn("cell", F.lit(0).cast("long")).write.partitionBy("z")
         .parquet(os.path.join(str(tmp_path), "queue", f"job={job_id}")))
    assert _tile_job(spark, store, [0, 1], meta_buffer=32, job_id=job_id) == job_id
    want_store, want_job = line_job
    assert _tiles(store, job_id) == _tiles(want_store, want_job)
    assert (store.job(job_id)["meta_tiles_total"]
            == want_store.job(want_job)["meta_tiles_total"])


def test_failed_zoom_of_a_concurrent_wave_resumes_alone(spark, tmp_path, monkeypatch):
    """One zoom's build raises inside the zoom wave of a line job at
    zooms 0-3: the other zooms still commit ``done`` and the failing one
    is marked ``error``; a resume with the job id re-runs only that zoom,
    and tiles and ``report()`` equal an uninterrupted run's."""
    clean = CheckpointStore(spark, str(tmp_path / "clean"))
    want_job = _tile_job(spark, clean, [0, 1, 2, 3])

    root = str(tmp_path / "failed")
    store = CheckpointStore(spark, root)
    real_queue = store.queue

    def queue_failing_at_2(job_id, zoom=None):
        if zoom == 2:
            raise RuntimeError("zoom 2 fails")
        return real_queue(job_id, zoom)

    monkeypatch.setattr(store, "queue", queue_failing_at_2)
    with pytest.raises(RuntimeError, match="zoom 2 fails"):
        _tile_job(spark, store, [0, 1, 2, 3])
    monkeypatch.undo()
    (job_id,) = (f[:-len(".json")] for f in os.listdir(os.path.join(root, "jobs")))
    assert [store.stage_status(job_id, "tiles", z) for z in range(4)] == [
        "done", "done", "error", "done"]

    assert _tile_job(spark, store, [0, 1, 2, 3], job_id=job_id) == job_id
    for z in (0, 1, 3):
        assert _markers(root, job_id, "tiles", z)[1] == ["pending", "done"], z
    assert _markers(root, job_id, "tiles", 2)[1] == ["pending", "error", "pending", "done"]
    assert _tiles(store, job_id) == _tiles(clean, want_job)
    assert _same_report(store, job_id) == _same_report(clean, want_job)


def test_store_reads_run_no_job_and_keep_the_written_schema(line_job, check_store_reads,
                                                           count_jobs):
    store, job_id = line_job
    assert check_store_reads(store, job_id) == ["tiles"]
    q, n = count_jobs(store.queue, job_id)
    assert n == 0
    assert q.columns == ["x", "y", "n", "cell", "z"]


def test_exact_resume_skips_done_stages(line_job):
    store, job_id = line_job
    before = {(r.z, r.x, r.y) for r in store.output(job_id, "tiles").collect()}

    # simulate a restarted run: same stages re-submitted -> all skipped
    calls = []

    def build_should_not_run():
        calls.append(1)
        raise AssertionError("stage must be skipped on resume")

    for z in (0, 1):
        res = store.run_stage(job_id, "tiles", z, build_should_not_run)
        assert res["skipped"] is True
    assert not calls
    after = {(r.z, r.x, r.y) for r in store.output(job_id, "tiles").collect()}
    assert after == before


def test_kill_mid_run_resumes_exactly(spark, root):
    """Run only zoom 0, 'crash', then resume both zooms: zoom 0 is not
    recomputed, zoom 1 completes, outputs equal a fresh full run."""
    geom = G.parse_wkt(LAYERS["line"].geom_wkt)
    geoms = {0: geom, 1: geom}
    store = CheckpointStore(spark, root)
    job_id = store.create_job("line")
    metas = P.plan_metatiles(spark, SWISSGRID_5, LAYERS["line"], geoms, [0, 1])
    from tilecloud_chain_spark.functions import gridmath as GM

    metas = metas.withColumn("cell", GM.cell_key(F.col("z"), F.col("x"), F.col("y")))
    store.enqueue(job_id, metas)

    # partial run: drive stage z0 only, then "kill"
    from tilecloud_chain_spark.operators import raster as R
    from tilecloud_chain_spark.operators import filters as FL
    import hashlib

    def build_z(z):
        def build():
            m = store.queue(job_id, z).select("z", "x", "y", "n")
            rendered = R.render_metatiles(m, SWISSGRID_5, geoms, meta_buffer=32)
            rendered = FL.hash_drop(
                rendered,
                hashlib.sha256(R.empty_tile_bytes(8 * 256 + 64)).hexdigest(),
            )
            ch = R.split_metatile_images(rendered, 256, 32,
                                         clamp_matrix=SWISSGRID_5.matrix_size(z))
            st = FL.hash_drop(
                ch, hashlib.sha256(R.empty_tile_bytes(256)).hexdigest()
            )
            return st.withColumn("cell", GM.cell_key(F.col("z"), F.col("x"), F.col("y")))

        return build

    store.run_stage(job_id, "tiles", 0, build_z(0), bytes_col="data")
    assert store.stage_status(job_id, "tiles", 0) == "done"
    assert store.stage_status(job_id, "tiles", 1) == "created"

    # resume: a new store instance (fresh process analog) finishes the job
    store2 = CheckpointStore(spark, root)
    assert store2.run_stage(job_id, "tiles", 0, build_z(0), bytes_col="data")["skipped"]
    store2.run_stage(job_id, "tiles", 1, build_z(1), bytes_col="data")
    out = store2.output(job_id, "tiles")
    assert out.filter(F.col("z") == 0).count() == 6
    assert out.filter(F.col("z") == 1).count() > 0


def test_error_stage_retry_only_errors(spark, root):
    """Failed stage -> marker error; retry_errors reopens ONLY it
    (reference retry parity, store/postgresql.py:443-477)."""
    store = CheckpointStore(spark, root)
    job_id = store.create_job("errjob")
    df = spark.range(10).select(F.col("id").alias("cell"))
    store.enqueue(job_id, df.withColumn("z", F.lit(0)).withColumn("x", F.lit(0))
                  .withColumn("y", F.lit(0)).withColumn("n", F.lit(1)))

    store.run_stage(job_id, "s", 0, lambda: df)  # ok

    def boom():
        raise RuntimeError("synthetic failure")

    with pytest.raises(RuntimeError):
        store.run_stage(job_id, "s", 1, boom)
    assert store.stage_status(job_id, "s", 0) == "done"
    assert store.stage_status(job_id, "s", 1) == "error"

    reopened = store.retry_errors(job_id)
    assert reopened == [("s", 1)]
    assert store.stage_status(job_id, "s", 1) == "created"
    # done stage untouched, error stage now runs
    assert store.run_stage(job_id, "s", 0, boom)["skipped"]
    store.run_stage(job_id, "s", 1, lambda: df)
    assert store.stage_status(job_id, "s", 1) == "done"


def _markers(root, job, stage, zoom=0):
    d = os.path.join(root, "status", f"job={job}", f"stage={stage}", f"z={zoom}")
    names = sorted(os.listdir(d))
    statuses = []
    for n in names:
        with open(os.path.join(d, n)) as f:
            statuses.append(json.load(f)["status"])
    return names, statuses


def test_racing_transitions_lose_nothing_and_never_reset_done(spark, tmp_path):
    """8 writer threads commit stale-pending -> done on a stage of their own
    and on one shared stage while a stale-pending requeue races them: every
    transition lands as its own numbered marker (no gap, no temp file
    left), a reset only ever follows a pending, and every stage ends done."""
    root = str(tmp_path / "ck")
    store = CheckpointStore(spark, root)
    job = store.create_job("race")
    stale = time.time() - 3600
    writers, rounds = 8, 25
    resets = []
    stop = threading.Event()

    def writer(i):
        for _ in range(rounds):
            for stage in (f"own{i}", "shared"):
                store.set_status(job, stage, 0, "pending", started_at=stale)
                store.set_status(job, stage, 0, "done", wall_s=0.0)

    def requeuer():
        while not stop.is_set():
            resets.extend(store.requeue_stale_pending(job, max_pending_minutes=10))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        rq = threading.Thread(target=requeuer)
        rq.start()
        ws = [threading.Thread(target=writer, args=(i,)) for i in range(writers)]
        for t in ws:
            t.start()
        for t in ws:
            t.join(timeout=120)
        stop.set()
        rq.join(timeout=120)
    finally:
        stop.set()
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in ws + [rq])

    for stage, n in [(f"own{i}", 1) for i in range(writers)] + [("shared", writers)]:
        names, seq = _markers(root, job, stage)
        assert names == [f"{k:08d}.json" for k in range(1, len(names) + 1)], stage
        assert seq.count("pending") == seq.count("done") == n * rounds, stage
        assert seq.count("created") == resets.count((stage, 0)), stage
        assert all(prev == "pending" for prev, cur in zip(seq, seq[1:]) if cur == "created")
        assert store.stage_status(job, stage, 0) == "done"


def test_requeue_that_loses_the_race_to_done_leaves_done(spark, tmp_path, monkeypatch):
    """A requeue that saw a stale pending but whose commit loses to a
    concurrent done re-tests against the new marker and resets nothing."""
    root = str(tmp_path / "ck")
    store, other = CheckpointStore(spark, root), CheckpointStore(spark, root)
    job = store.create_job("lost")
    store.set_status(job, "s", 0, "pending", started_at=time.time() - 3600)
    real_link = os.link
    raced = []

    def link_after_done(src, dst):
        if not raced:  # the done commit lands between the requeue's read and link
            raced.append(dst)
            other.set_status(job, "s", 0, "done", wall_s=1.0)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", link_after_done)
    assert store.requeue_stale_pending(job, max_pending_minutes=10) == []
    monkeypatch.undo()
    assert raced and store.stage_status(job, "s", 0) == "done"
    assert _markers(root, job, "s")[1] == ["pending", "done"]


def test_transition_writes_one_file_in_its_stage_dir(spark, tmp_path):
    """A status transition adds exactly one file, inside its own stage's
    status directory, and rewrites no other file of the store."""
    root = str(tmp_path / "ck")
    store = CheckpointStore(spark, root)
    job = store.create_job("one")
    store.set_status(job, "a", 0, "pending", started_at=time.time())

    def files():
        out = {}
        for r, _, fs in os.walk(root):
            for f in fs:
                st = os.stat(os.path.join(r, f))
                out[os.path.join(r, f)] = (st.st_ino, st.st_size, st.st_mtime_ns)
        return out

    before = files()
    store.set_status(job, "b", 3, "done", wall_s=1.0)
    after = files()
    new = set(after) - set(before)
    assert len(new) == 1, sorted(new)
    assert os.path.dirname(new.pop()) == os.path.join(
        root, "status", f"job={job}", "stage=b", "z=3")
    assert {p: after.get(p) for p in before} == before


def test_orphaned_temp_marker_is_invisible(spark, tmp_path):
    """A temp file left by a writer killed between write and link is no
    marker: stage_status and both resets ignore it, and the next
    transition still commits marker 1."""
    root = str(tmp_path / "ck")
    store = CheckpointStore(spark, root)
    job = store.create_job("orphan")
    store.set_status(job, "p", 0, "pending", started_at=time.time())
    for stage, payload in [("p", {"status": "error", "error": "x"}),
                           ("q", {"status": "pending", "started_at": 0.0}),
                           ("q", {"status": "error", "error": "x"})]:
        d = os.path.join(root, "status", f"job={job}", f"stage={stage}", "z=0")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f".tmp-{uuid.uuid4().hex}"), "w") as f:
            json.dump(payload, f)
    assert store.stage_status(job, "p", 0) == "pending"
    assert store.stage_status(job, "q", 0) == "created"
    assert store.retry_errors(job) == []
    assert store.requeue_stale_pending(job, max_pending_minutes=10) == []
    store.set_status(job, "q", 0, "done", wall_s=1.0)
    names, seq = _markers(root, job, "q")
    assert [n for n in names if not n.startswith(".")] == ["00000001.json"]
    assert seq[-1] == "done" and store.stage_status(job, "q", 0) == "done"


class _Killed(BaseException):
    """Raised where a kill would land; no ``except Exception`` catches it."""


def test_kill_between_write_and_publish_leaves_no_orphan(spark, tmp_path, monkeypatch):
    """Two tile-shaped zoom stages of 100 rows; the second is killed after
    its write and before its publish, then the job is resumed. The stage
    tree must never hold the killed attempt: ``output()`` without a zoom
    and ``report()`` equal an uninterrupted run's, and the resume sweeps
    the attempt's temp directory."""
    def build(z):
        return lambda: spark.range(0, 100, 1, 2).select(
            F.lit(z).alias("z"), F.col("id").alias("cell"), F.lit(b"tile").alias("data"))

    def run_all(store, job):
        for z in (0, 1):
            store.run_stage(job, "tiles", z, build(z), bytes_col="data")
        return store.output(job, "tiles").count(), store.report(job)["rows"]

    clean = CheckpointStore(spark, str(tmp_path / "clean"))
    want = run_all(clean, clean.open_job("tiles", {}))
    assert want == (200, 200)

    root = str(tmp_path / "killed")
    store = CheckpointStore(spark, root)
    job = store.open_job("tiles", {})
    store.run_stage(job, "tiles", 0, build(0), bytes_col="data")
    real_replace = os.replace
    kills = []

    def replace_killed_once(src, dst):
        if not kills and f"{os.sep}stage=" in str(dst):
            kills.append(dst)
            raise _Killed()
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace_killed_once)
    with pytest.raises(_Killed):
        store.run_stage(job, "tiles", 1, build(1), bytes_col="data")
    monkeypatch.undo()
    assert kills and store.stage_status(job, "tiles", 1) == "pending"
    assert store.output(job, "tiles").count() == 100

    resumed = CheckpointStore(spark, root)
    assert resumed.open_job("tiles", {}, job) == job
    assert not os.path.exists(os.path.join(root, "tmp", f"job={job}"))
    assert run_all(resumed, job) == want

    # an attempt that published but died before its done marker: the
    # re-run replaces the published directory instead of adding to it
    resumed.set_status(job, "tiles", 0, "pending", started_at=time.time())
    assert run_all(resumed, job) == want


def test_done_stage_without_schema_file_reruns_on_resume(spark, tmp_path):
    """A stage published before stages carried ``_schema.json`` is
    ``done`` but has no schema to read with: resuming the job re-runs it
    (one more pending -> done), and the rows read back are the same."""
    geom = G.parse_wkt(LAYERS["line"].geom_wkt)
    root = str(tmp_path / "ck")
    store = CheckpointStore(spark, root)
    job = P.generate_tiles(spark, SWISSGRID_5, LAYERS["line"], {0: geom}, store,
                           zooms=[0], meta_buffer=32)
    before = _tiles(store, job)
    schema_file = os.path.join(root, "stages", f"job={job}", "stage=tiles", "z=0",
                               "_schema.json")
    os.remove(schema_file)
    assert P.generate_tiles(spark, SWISSGRID_5, LAYERS["line"], {0: geom}, store,
                            zooms=[0], meta_buffer=32, job_id=job) == job
    assert _markers(root, job, "tiles")[1] == ["pending", "done", "pending", "done"]
    assert os.path.exists(schema_file)
    assert _tiles(store, job) == before
