"""Queue-consumption semantics (SURVEY.md §2.11 ST1-ST5).

The reference's "streaming" is a work queue, not event-time streaming: a
daemon consumes metatile messages forever, re-polling on empty
(/root/reference/tilecloud_chain/__init__.py:2358-2369, ``_await_message``
:2887-2894), with bounded retries (error rows only,
store/postgresql.py:443-477) and a consecutive-error circuit breaker
(filter/error.py:6-67, default 10 — configuration.py:2333). There are no
watermarks or event-time windows to reproduce (SURVEY §2.11).

Two faithful Spark realizations:

- ``drain`` / ``daemon``: micro-batch loop over the checkpoint store —
  the batch-loop-with-checkpoint realization (availableNow-style drain, or
  poll-forever daemon). Exactly-once comes from the store's stage commits.
- ``stream_queue_files``: genuine Structured Streaming over the queue
  directory (file source + ``foreachBatch`` + ``Trigger.AvailableNow``),
  for deployments that want the streaming runtime to own scheduling.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tilecloud_chain_spark.checkpoint import CheckpointStore

MAX_CONSECUTIVE_ERRORS = 10  # reference default, configuration.py:2333


class TooManyErrorsError(RuntimeError):
    """Raised by the circuit breaker (filter/error.py:6-67 analog)."""


def pending_stages(store: CheckpointStore, job_id: str, stage: str) -> list[int]:
    """Zooms whose stage is not yet done (created or error)."""
    return [z for z in store.queue_zooms(job_id)
            if store.stage_status(job_id, stage, z) != "done"]


def drain(
    store: CheckpointStore,
    job_id: str,
    stage: str,
    build_for_zoom: Callable[[int], Callable[[], DataFrame]],
    max_retries: int = 5,
    max_consecutive_errors: int = MAX_CONSECUTIVE_ERRORS,
    **stage_kwargs,
) -> dict:
    """AvailableNow-style consumption: process every pending per-zoom stage
    until the queue is drained; retry error stages up to ``max_retries``
    (Redis store max_retries=5 parity, configuration.py:2353); abort after
    ``max_consecutive_errors`` consecutive failures."""
    consecutive = 0
    attempts: dict[int, int] = {}
    done, failed = [], []
    while True:
        pend = pending_stages(store, job_id, stage)
        pend = [z for z in pend if attempts.get(z, 0) <= max_retries]
        if not pend:
            break
        for z in pend:
            store.retry_errors(job_id)
            attempts[z] = attempts.get(z, 0) + 1
            try:
                store.run_stage(job_id, stage, z, build_for_zoom(z), **stage_kwargs)
                consecutive = 0
                done.append(z)
            except Exception:
                consecutive += 1
                failed.append(z)
                if consecutive >= max_consecutive_errors:
                    raise TooManyErrorsError(
                        f"{consecutive} consecutive errors (threshold "
                        f"{max_consecutive_errors})"
                    )
    return {"done": sorted(set(done)), "failed": sorted(set(failed)), "attempts": attempts}


def daemon(
    store: CheckpointStore,
    job_id: str,
    stage: str,
    build_for_zoom: Callable[[int], Callable[[], DataFrame]],
    poll_seconds: float = 0.2,
    stop_after_empty_polls: int = 3,
    **drain_kwargs,
) -> int:
    """Daemon mode (ST1): consume, re-poll on empty; here bounded by
    ``stop_after_empty_polls`` so tests terminate (a real daemon passes
    infinity). Returns number of drain rounds that did work."""
    rounds = 0
    empty = 0
    while empty < stop_after_empty_polls:
        if pending_stages(store, job_id, stage):
            drain(store, job_id, stage, build_for_zoom, **drain_kwargs)
            rounds += 1
            empty = 0
        else:
            empty += 1
            time.sleep(poll_seconds)
    return rounds


def stream_queue_files(
    spark: SparkSession,
    queue_dir: str,
    checkpoint_dir: str,
    batch_handler: Callable[[DataFrame, int], None],
    schema: str = "z int, x int, y int, n int, cell long",
):
    """Structured Streaming realization: file-source stream over the queue
    directory; each discovered batch of metatiles goes through
    ``batch_handler`` via foreachBatch; Trigger.AvailableNow drains then
    stops (ST1 drain-then-stop). Returns the (finished) StreamingQuery."""
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(queue_dir)
    )
    q = (
        stream.writeStream.foreachBatch(batch_handler)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
