"""Resumable image-curation plan — the north-rule contract applied to the
image+caption table: the image capstone's stage graph
(``operators/image_curation.py:image_graph``) run through the
:class:`CheckpointStore` by ``plans/graph.py``, every stage committed with
per-partition lineage rows (id range, row count, bytes, wall time), so a
killed run resumes exactly — done stages are skipped, error/uncommitted
stages re-execute (the same stage-commit/retry semantics as the tile
pipeline, ``plans/pipeline.py:generate_tiles``; reference parity
store/postgresql.py:443-477).

Stage graph (each stage = one ``run_stage`` call at the graph nodes'
zoom 0 — the stages are not zoom-structured):

    dedup     image_caption_dedup  -> (image_id, dup_group, keep)
    decontam  phash_decontaminate  -> (image_id, contaminated)   [optional]
    clip      clip_filter          -> (image_id, clip_score, keep) [optional]
    admitted  join of the committed flag outputs + bucket + admitted
    batches   aspect_bucket_pack over the ADMITTED rows only
    schedule  epoch_schedule over the committed batch table

dedup, decontam and clip run concurrently (one wave). Later stages read
the committed parquet of earlier stages (``store.output``), never the
live lineage — a resume recomputes nothing upstream of the first
non-done stage. Each read is built with the schema the stage committed
next to its files, so building it infers nothing and runs no Spark job.
The final ``admitted`` output joined with ``batches`` is row-identical
to the single-shot composed operator
(``operators/image_curation.py:image_admission``), which runs the same
graph in memory; the ``__spark_entry__`` gates pin that equivalence
against one DuckDB oracle.

Scale shape: stage outputs are narrow flag tables keyed by the single
image_id (the lineage 'cell'); image bytes never enter a stage shuffle.
Lineage is appended in the SAME pass that writes the stage (one job per
stage), and the atomic tmp-dir publish makes each stage exactly-once."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from tilecloud_chain_spark.checkpoint import CheckpointStore
from tilecloud_chain_spark.operators.image_curation import (
    DEFAULT_BUCKETS,
    assemble_admission,
    image_graph,
)
from tilecloud_chain_spark.plans import graph as G


def _cell(df: DataFrame) -> Column:
    """Lineage cell: the image id; the schedule is keyed by batch, so
    (bucket, batch_index) packed into one long."""
    if "image_id" in df.columns:
        return F.col("image_id")
    return (F.col("bucket").cast("long") * F.lit(1_000_000_000).cast("long")
            + F.col("batch_index").cast("long"))


def curate_images(
    spark: SparkSession,
    imgs: DataFrame,
    store: CheckpointStore,
    eval_df: DataFrame | None = None,
    clip_pairs: DataFrame | None = None,
    *,
    clip_threshold: float = 0.28,
    dedup_hamming: int = 6,
    caption_near_threshold: float | None = None,
    decontam_hamming: int = 2,
    batch_size: int = 64,
    world_size: int = 8,
    seed: str = "epoch0",
    buckets=DEFAULT_BUCKETS,
    job_id: str | None = None,
) -> str:
    """Run (or resume) the staged admission pipeline; returns job_id.

    Pass the returned ``job_id`` back in to resume after a kill: done
    stages are skipped (their committed parquet is reused), the failed
    stage re-executes. The caller must supply the same inputs on resume —
    the store checkpoints stage OUTPUTS, not the source table. The
    parameter set and the stage names are recorded in the job marker at
    creation and a resume with DIFFERENT ones is refused
    (``CheckpointStore.open_job``)."""
    params = {
        "clip_threshold": float(clip_threshold),
        "dedup_hamming": int(dedup_hamming),
        "caption_near_threshold": (
            None if caption_near_threshold is None
            else float(caption_near_threshold)
        ),
        "decontam_hamming": int(decontam_hamming),
        "batch_size": int(batch_size),
        "world_size": int(world_size),
        "seed": str(seed),
        "buckets": [list(b) for b in buckets],
    }
    nodes = image_graph(imgs, eval_df, clip_pairs, **params)
    job_id = store.open_job(
        "curate_images", {**params, "nodes": [n.name for n in nodes]}, job_id)
    G.run(nodes, ("schedule",), store=store, job_id=job_id, cell=_cell)
    return job_id


def admission_table(store: CheckpointStore, job_id: str) -> DataFrame:
    """The composed-operator-shaped result from a finished job: one row
    per image with every stage flag and the training-batch coordinates
    (NULL batch/slot for rejected rows) — row-identical to
    ``image_admission``."""
    return assemble_admission(store.output(job_id, "admitted", 0),
                              store.output(job_id, "batches", 0))
