"""Per-zoom stage checkpointing with per-partition lineage and exact resume.

Models the reference's PostgreSQL job/queue store
(/root/reference/tilecloud_chain/store/postgresql.py:143-194: ``job`` rows
with status/meta_tiles_total, ``queue`` rows keyed by zoom with status
created|pending|done|error) and its retry semantics — "only the meta tiles
currently in error are requeued, done rows untouched"
(store/postgresql.py:443-477) — re-expressed for Spark's execution model:

- Spark task success replaces the per-row ``pending`` lock + countdown
  (SKIP LOCKED, ``elapsed_togenerate``): the unit of atomicity is the *stage
  commit*, not the row claim.
- The store is **log-structured**: every mutation is an append (queue rows,
  job markers, stage manifests, status markers); current state is the
  latest marker.
- **Stage status** is a per-stage commit log (Delta Lake's numbered,
  put-if-absent log, scoped to one ``(job, stage, zoom)``): the directory
  ``status/job=<id>/stage=<s>/z=<z>/`` holds ``00000001.json``,
  ``00000002.json``, … and the highest number is the current status (no
  marker = ``created``). A transition writes a dot-prefixed temp file and
  ``os.link``s it to the next number; the link fails when another writer
  committed that number first, so the writer re-reads and re-tests. No
  lock, no thread, and a transition touches only its own stage's directory.
- **Per-partition lineage rows** (partition id, cell range, row count,
  bytes, wall ms — BASELINE.json mandate) are produced inside the stage's
  own ``mapInPandas`` pass and written INTO THE SAME parquet files as the
  data (a ``_lineage`` struct column, null on data rows): lineage commits
  atomically with exactly the data it describes. ``output()`` filters
  ``_lineage IS NULL``; ``lineage()`` reads the complement.
- **The schema commits with the data**: ``run_stage`` writes the written
  frame's schema as ``_schema.json`` into the attempt's data directory, so
  the publish rename commits it together with the files it describes
  (Spark's file listing skips names that start with ``_``). Every read
  is built with a known schema — ``output()`` with the stage's
  ``_schema.json``, ``lineage()`` with the fixed ``_lineage`` struct,
  ``queue()`` with the fixed queue schema — so building a read infers
  nothing and runs no Spark job. A ``done`` stage without the file (one
  published before the file existed) is re-run by ``run_stage``.
- **Crash-safe publish**: a stage attempt writes under
  ``tmp/job=<id>/<uuid>/``, outside every read path but on the same
  filesystem, and publishes with renames only: an earlier attempt's
  ``z=<z>`` directory is first moved into the attempt's temp directory,
  then the new data is renamed into place. A kill at any point leaves the
  stage tree holding one complete attempt or none, never an orphan or a
  half-deleted directory; what the kill leaves under ``tmp/`` is swept
  when the job is reopened (``open_job`` with its id).
- **Exact resume**: ``run_stage`` is a no-op when the stage's status is
  ``done``; a killed run re-executes only uncommitted stages against the
  same deterministic inputs. ``retry_errors`` re-opens only stages marked
  ``error``. The queue commits when ``enqueue`` records
  ``meta_tiles_total`` in the job marker; a resume of a job without it
  clears the partial queue (``open_job``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: the per-partition lineage struct ``with_lineage`` appends to every stage
LINEAGE_DDL = ("_lineage struct<partition_id: int, salt: int, cell_min: bigint, "
               "cell_max: bigint, row_count: bigint, bytes: bigint, wall_ms: bigint>")
#: the queue table's columns; ``enqueue`` writes exactly these, ``z`` as
#: the partition directory
QUEUE_DDL = "x int, y int, n int, cell bigint, z int"
#: the written schema of a stage attempt, next to its parquet files
SCHEMA_FILE = "_schema.json"


def with_lineage(df: DataFrame, cell_col: str = "cell", bytes_col: str | None = None,
                 salt_col: str | None = None) -> DataFrame:
    """Pass-through that appends one lineage row per partition.

    Output schema = input schema + ``_lineage`` struct; data rows carry
    ``_lineage = NULL``, and each partition emits one trailing row with the
    data columns NULL and ``_lineage`` set. Single compute pass — no second
    job, no recompute; wall_ms is the partition's real processing time.
    """
    import pandas as pd

    in_cols = df.columns
    has_cell = cell_col in in_cols
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields] + [LINEAGE_DDL]
    )

    def wrap(batches):
        from pyspark import TaskContext

        t0 = time.perf_counter()
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        rows = 0
        nbytes = 0
        cmin = None
        cmax = None
        salt = None
        for pdf in batches:
            rows += len(pdf)
            if bytes_col is not None and bytes_col in pdf:
                nbytes += int(pdf[bytes_col].map(lambda b: len(b) if b is not None else 0).sum())
            if has_cell and len(pdf):
                lo = int(pdf[cell_col].min())
                hi = int(pdf[cell_col].max())
                cmin = lo if cmin is None else min(cmin, lo)
                cmax = hi if cmax is None else max(cmax, hi)
            if salt_col is not None and salt_col in pdf and len(pdf):
                salt = int(pdf[salt_col].iloc[0])
            out = pdf.copy()
            out["_lineage"] = None
            yield out
        wall = int((time.perf_counter() - t0) * 1000)
        tail = pd.DataFrame({c: [None] for c in in_cols})
        tail["_lineage"] = [
            {
                "partition_id": pid,
                "salt": salt,
                "cell_min": cmin,
                "cell_max": cmax,
                "row_count": rows,
                "bytes": nbytes,
                "wall_ms": wall,
            }
        ]
        yield tail

    return df.mapInPandas(wrap, out_schema)


class CheckpointStore:
    """Filesystem-rooted job/queue/stage/lineage store."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        # job markers live in jobs/; stage status markers in
        # status/job=<id>/stage=<s>/z=<z>/, one directory per stage (created
        # by its first transition)
        os.makedirs(os.path.join(root, "jobs"), exist_ok=True)

    # -- jobs (reference job table, store/postgresql.py:143-167) ------------

    def create_job(self, name: str, command: str = "") -> str:
        job_id = uuid.uuid4().hex[:12]
        self._append_marker(
            os.path.join(self.root, "jobs", f"{job_id}.json"),
            {
                "job_id": job_id,
                "name": name,
                "command": command,
                "status": "created",
                "created_at": time.time(),
            },
        )
        return job_id

    def open_job(self, name: str, params: dict, job_id: str | None = None) -> str:
        """Create a job recording ``params`` in its marker, or — given a
        ``job_id`` — check that the job was created with the same
        ``params`` and return it. A resume with different parameters is
        refused: the new values would be silently ignored for committed
        stages, or a mid-run kill would yield a mixed-parameter result.
        A resume also sweeps what a killed run of the job left behind —
        its temp directories, and a queue whose ``enqueue`` did not commit
        (no ``meta_tiles_total`` in the marker) — so it must be the job's
        only writer."""
        command = f"{name} {json.dumps(params, sort_keys=True)}"
        if job_id is None:
            return self.create_job(name, command=command)
        prev = self.job(job_id)
        if prev.get("command", "") != command:
            raise ValueError(
                f"job {job_id} was created with different parameters — "
                f"resume must reuse them (or start a new job).\n"
                f"  recorded: {prev.get('command', '')}\n  requested: {command}"
            )
        shutil.rmtree(self._tmp_root(job_id), ignore_errors=True)
        if "meta_tiles_total" not in prev:
            shutil.rmtree(self._queue_dir(job_id), ignore_errors=True)
        return job_id

    def job(self, job_id: str) -> dict:
        with open(os.path.join(self.root, "jobs", f"{job_id}.json")) as f:
            return json.load(f)

    def _append_marker(self, path: str, payload: dict) -> None:
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)  # atomic on POSIX — the "snapshot commit"

    # -- queue (reference queue table, store/postgresql.py:170-194) ---------

    def _queue_dir(self, job_id: str) -> str:
        return os.path.join(self.root, "queue", f"job={job_id}")

    def enqueue(self, job_id: str, metatiles: DataFrame) -> int:
        """Append work rows (the master role's queue put, generate.py:164-168).
        Returns meta_tiles_total (store/postgresql.py:285-290), which the
        job marker records after the write: its presence commits the
        queue."""
        cols = StructType.fromDDL(QUEUE_DDL).fields
        (metatiles.select([F.col(f.name).cast(f.dataType) for f in cols])
         .write.mode("append").partitionBy("z").parquet(self._queue_dir(job_id)))
        n = self.queue(job_id).count()
        j = self.job(job_id)
        j["meta_tiles_total"] = n
        j["status"] = "started"
        self._append_marker(os.path.join(self.root, "jobs", f"{job_id}.json"), j)
        return n

    def queue(self, job_id: str, zoom: int | None = None) -> DataFrame:
        df = self.spark.read.schema(QUEUE_DDL).parquet(self._queue_dir(job_id))
        if zoom is not None:
            df = df.filter(F.col("z") == zoom)
        return df

    def queue_zooms(self, job_id: str) -> list[int]:
        """The zooms with queued rows, ascending: ``enqueue`` partitions
        the queue by zoom, so they are its ``z=<n>`` directories and
        listing them runs no Spark job."""
        return sorted(int(d[len("z="):]) for d in os.listdir(self._queue_dir(job_id))
                      if d.startswith("z="))

    # -- stages ---------------------------------------------------------------

    def _stage_dir(self, job_id: str, stage: str, zoom: int) -> str:
        return os.path.join(self.root, "stages", f"job={job_id}", f"stage={stage}", f"z={zoom}")

    def _tmp_root(self, job_id: str) -> str:
        return os.path.join(self.root, "tmp", f"job={job_id}")

    def _status_dir(self, job_id: str, stage: str, zoom: int) -> str:
        return os.path.join(self.root, "status", f"job={job_id}", f"stage={stage}", f"z={int(zoom)}")

    @staticmethod
    def _last_marker(d: str) -> tuple[int, dict]:
        """(number, payload) of the stage's highest marker; (0, created)
        when it has none. Temp files (``.tmp-<uuid>``) are not markers."""
        try:
            names = sorted(n for n in os.listdir(d) if n.endswith(".json"))
        except FileNotFoundError:
            names = []
        if not names:
            return 0, {"status": "created"}
        with open(os.path.join(d, names[-1])) as f:
            return int(names[-1][:-5]), json.load(f)

    def _transition(self, d: str, payload: dict,
                    when: Callable[[dict], bool] | None = None) -> bool:
        """Commit ``payload`` as the stage's next marker, put-if-absent:
        ``os.link`` of a complete temp file fails when another writer took
        that number first, and the writer then re-reads (and re-tests
        ``when`` against the new current marker). Returns whether it
        committed."""
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        try:
            while True:
                n, cur = self._last_marker(d)
                if when is not None and not when(cur):
                    return False
                try:
                    os.link(tmp, os.path.join(d, f"{n + 1:08d}.json"))
                    return True
                except FileExistsError:
                    continue
        finally:
            os.unlink(tmp)

    def set_status(self, job_id: str, stage: str, zoom: int, status: str,
                   **extra) -> None:
        """Unconditional transition: one new marker in the stage's directory."""
        self._transition(
            self._status_dir(job_id, stage, zoom),
            {"status": status, "at": time.time(), **extra},
        )

    def stage_status(self, job_id: str, stage: str, zoom: int) -> str:
        return self._last_marker(self._status_dir(job_id, stage, zoom))[1]["status"]

    def _reset_where(self, job_id: str, test: Callable[[dict], bool]) -> list[tuple[str, int]]:
        """Conditional transition to ``created`` of every stage of the job
        whose current marker passes ``test``; the test is re-run after a
        lost race, so a stage another writer just moved on (e.g. to
        ``done``) is left alone. Returns the (stage, zoom) pairs reset."""
        base = os.path.join(self.root, "status", f"job={job_id}")
        reset = []
        for sd in sorted(os.listdir(base)) if os.path.isdir(base) else []:
            stage = sd[len("stage="):]
            for zoom in sorted(int(zd[len("z="):]) for zd in os.listdir(os.path.join(base, sd))):
                d = self._status_dir(job_id, stage, zoom)
                if test(self._last_marker(d)[1]) and self._transition(
                    d, {"status": "created", "at": time.time()}, when=test
                ):
                    reset.append((stage, zoom))
        return reset

    def run_stage(
        self,
        job_id: str,
        stage: str,
        zoom: int,
        build: Callable[[], DataFrame],
        cell_col: str = "cell",
        bytes_col: str | None = None,
    ) -> dict:
        """Execute one per-zoom stage exactly once.

        Skips when already ``done`` (exact resume); on failure the marker is
        ``error`` and a later ``run_stage``/``retry_errors`` re-executes —
        only error/uncommitted stages re-run, done stages are untouched
        (reference retry parity, store/postgresql.py:443-477). A ``done``
        stage published without its ``_schema.json`` re-runs, since no
        read can be built for it.
        """
        out_dir = self._stage_dir(job_id, stage, zoom)
        if (self.stage_status(job_id, stage, zoom) == "done"
                and os.path.exists(os.path.join(out_dir, SCHEMA_FILE))):
            return {"skipped": True, "status": "done"}
        self.set_status(job_id, stage, zoom, "pending", started_at=time.time())
        attempt = os.path.join(self._tmp_root(job_id), uuid.uuid4().hex)
        data = os.path.join(attempt, "data")
        t0 = time.perf_counter()
        try:
            df = build()
            with_lin = with_lineage(df, cell_col=cell_col, bytes_col=bytes_col)
            with_lin.write.mode("overwrite").parquet(data)
            with open(os.path.join(data, SCHEMA_FILE), "w") as f:
                f.write(with_lin.schema.json())
            if os.path.exists(out_dir):  # an earlier attempt published, then died
                os.replace(out_dir, os.path.join(attempt, "old"))
            os.makedirs(os.path.dirname(out_dir), exist_ok=True)
            os.replace(data, out_dir)  # atomic publish of data+lineage+schema
        except Exception as exc:
            shutil.rmtree(attempt, ignore_errors=True)
            self.set_status(job_id, stage, zoom, "error", error=str(exc)[:2000])
            raise
        shutil.rmtree(attempt, ignore_errors=True)
        wall = time.perf_counter() - t0
        self.set_status(job_id, stage, zoom, "done", wall_s=round(wall, 3))
        return {"skipped": False, "status": "done", "wall_s": wall}

    def requeue_stale_pending(self, job_id: str, max_pending_minutes: float = 10.0) -> list[tuple[str, int]]:
        """ST2 — lost-worker recovery: pending stages older than
        ``max_pending_minutes`` (reference default 10, configuration.py:2348;
        maintenance loop store/postgresql.py:700-713) reset to created so a
        later run re-executes the stage."""
        cutoff = time.time() - max_pending_minutes * 60
        return self._reset_where(
            job_id,
            lambda m: m["status"] == "pending" and m.get("started_at", cutoff) < cutoff,
        )

    def retry_errors(self, job_id: str) -> list[tuple[str, int]]:
        """Reset error stages to created (requeue-only-errors, reference
        store/postgresql.py:443-477). Returns the (stage, zoom) pairs
        reopened."""
        return self._reset_where(job_id, lambda m: m["status"] == "error")

    # -- reads ----------------------------------------------------------------

    def output(self, job_id: str, stage: str, zoom: int | None = None) -> DataFrame:
        """The stage's committed rows (every zoom's when ``zoom`` is None),
        read with the schema the stage was written with."""
        base = os.path.join(self.root, "stages", f"job={job_id}", f"stage={stage}")
        path = base if zoom is None else os.path.join(base, f"z={zoom}")
        # the zooms of one stage share its schema: any zoom's file will do
        zd = os.path.join(base, min(os.listdir(base))) if zoom is None else path
        with open(os.path.join(zd, SCHEMA_FILE)) as f:
            schema = StructType.fromJson(json.load(f))
        df = self.spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(path)
        return df.filter(F.col("_lineage").isNull()).drop("_lineage")

    def lineage(self, job_id: str, stage: str | None = None) -> DataFrame:
        base = os.path.join(self.root, "stages", f"job={job_id}")
        if stage is not None:
            base = os.path.join(base, f"stage={stage}")
        df = self.spark.read.schema(LINEAGE_DDL).option("recursiveFileLookup", "true").parquet(base)
        return df.filter(F.col("_lineage").isNotNull()).select("_lineage.*")

    def report(self, job_id: str) -> dict:
        """A1/A5 rollup: totals + throughput from lineage (the reference's
        end-of-run report, generate.py:410-482)."""
        lin = self.lineage(job_id)
        agg = lin.agg(
            F.sum("row_count").alias("rows"),
            F.sum("bytes").alias("bytes"),
            F.sum("wall_ms").alias("cpu_ms"),
            F.count("*").alias("partitions"),
        ).collect()[0]
        rows = agg["rows"] or 0
        return {
            "job_id": job_id,
            "rows": rows,
            "bytes": int(agg["bytes"] or 0),
            "partitions": agg["partitions"],
            "cpu_ms": int(agg["cpu_ms"] or 0),
            "ms_per_row": (float(agg["cpu_ms"]) / rows) if rows else None,
        }
