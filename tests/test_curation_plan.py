"""Resumable staged image-curation plan (plans/curation.py): stage
outputs equal the single-shot composed operator, per-partition lineage
is recorded for every stage, and a killed run resumes exactly."""

import pytest
from pyspark.sql import functions as F

from tilecloud_chain_spark.checkpoint import CheckpointStore
from tilecloud_chain_spark.operators.image_curation import image_admission
from tilecloud_chain_spark.plans.curation import admission_table, curate_images


@pytest.fixture(scope="module")
def inputs(spark):
    """30 images with caption dups, phash near-dups, eval hits, and clip
    pairs for the first ten ids (even aligned / odd misaligned)."""
    import numpy as np

    rows = []
    for i in range(30):
        g, v = divmod(i, 3)
        cap = f"cap {g}" if v < 2 else f"cap {g} alt"
        ph = g * 1000003 if v == 0 else (
            (g * 1000003) ^ (1 << (g % 20)) if v == 1 else (g * 1000003) ^ 0xFFFFF
        )
        rows.append((i, 640 + 37 * i, 480 + 53 * i, cap, ph))
    imgs = spark.createDataFrame(
        rows, "image_id long, w int, h int, caption string, phash long"
    )
    rng = np.random.default_rng(5)
    pv = []
    for i in range(10):
        a = rng.normal(size=8)
        b = a + rng.normal(scale=0.1, size=8) if i % 2 == 0 else rng.normal(size=8)
        pv.append((i, [float(x) for x in a], [float(x) for x in b]))
    pairs = spark.createDataFrame(
        pv, "image_id long, img_vec array<double>, txt_vec array<double>"
    )
    ev = imgs.filter("image_id % 11 = 0").select("phash")
    return imgs, ev, pairs


def _result_rows(df):
    return sorted(
        (r.image_id, r.clip_keep, r.contaminated, r.dedup_keep, r.admitted,
         r.bucket, r.batch_index, r.slot)
        for r in df.collect()
    )


_KW = dict(clip_threshold=0.5, dedup_hamming=6, decontam_hamming=2,
           batch_size=4)


@pytest.fixture(scope="module")
def want(inputs):
    """The composed operator's result — the reference every staged run
    must reproduce."""
    imgs, ev, pairs = inputs
    return _result_rows(image_admission(imgs, eval_df=ev, clip_pairs=pairs,
                                        **_KW))


def _staged(spark, inputs, root):
    imgs, ev, pairs = inputs
    store = CheckpointStore(spark, str(root))
    return store, curate_images(spark, imgs, store, eval_df=ev,
                                clip_pairs=pairs, **_KW)


@pytest.fixture(scope="module")
def staged(spark, inputs, tmp_path_factory, fixed_join_plans):
    """One finished staged job: (store, job_id), run with one plan per
    query, so that ``test_repeat_call_compiles_no_class`` can repeat it."""
    with fixed_join_plans():
        return _staged(spark, inputs, tmp_path_factory.mktemp("curation"))


def test_repeat_call_compiles_no_class(spark, inputs, staged, want, fixed_join_plans,
                                      count_compiles, tmp_path):
    """The same staged job into a fresh store finds every generated class
    in Spark's codegen cache: no per-call value reaches generated code,
    and the cache holds the whole query set. Runs first in the module, so
    the only staged job before it is the ``staged`` fixture's."""
    with fixed_join_plans():
        (store, job), n = count_compiles(_staged, spark, inputs, tmp_path)
    assert n == 0
    assert _result_rows(admission_table(store, job)) == want


def test_staged_plan_equals_composed_operator(staged, want):
    store, job = staged
    assert _result_rows(admission_table(store, job)) == want
    # every stage recorded lineage covering the full id range
    for stage, n in (("dedup", 30), ("decontam", 30), ("clip", 10),
                     ("admitted", 30)):
        lin = store.lineage(job, stage)
        agg = lin.agg(
            F.sum("row_count").alias("rows"),
            F.min("cell_min").alias("lo"),
            F.max("cell_max").alias("hi"),
            F.sum("wall_ms").alias("ms"),
        ).collect()[0]
        assert agg["rows"] == n, stage
        assert agg["lo"] == 0 and agg["ms"] >= 0, stage
    sched = store.output(job, "schedule", 0)
    n_batches = store.output(job, "batches", 0).select(
        "bucket", "batch_index"
    ).distinct().count()
    assert sched.count() == n_batches


def test_store_reads_run_no_job_and_keep_the_written_schema(staged, check_store_reads):
    store, job = staged
    assert check_store_reads(store, job) == sorted(
        ["dedup", "decontam", "clip", "admitted", "batches", "schedule"])


def test_rerun_same_job_skips_every_stage(spark, inputs, staged, want):
    imgs, ev, pairs = inputs
    store, job = staged
    walls = {
        s: store.stage_status(job, s, 0)
        for s in ("dedup", "decontam", "clip", "admitted", "batches", "schedule")
    }
    assert set(walls.values()) == {"done"}
    job2 = curate_images(
        spark, imgs, store, eval_df=ev, clip_pairs=pairs, job_id=job, **_KW
    )
    assert job2 == job
    assert _result_rows(admission_table(store, job)) == want


def test_kill_mid_run_resumes_exactly(spark, inputs, want, tmp_path):
    imgs, ev, pairs = inputs
    store = CheckpointStore(spark, str(tmp_path))
    # clip fails; its wave siblings dedup and decontam still commit
    bad_pairs = pairs.withColumnRenamed("img_vec", "wrong_name")
    with pytest.raises(Exception):
        curate_images(spark, imgs, store, eval_df=ev, clip_pairs=bad_pairs,
                      **_KW)
    # find the job that got partway
    jobs = [d.split("=", 1)[1] for d in
            __import__("os").listdir(f"{tmp_path}/stages")]
    job = jobs[0]
    assert store.stage_status(job, "dedup", 0) == "done"
    assert store.stage_status(job, "decontam", 0) == "done"
    assert store.stage_status(job, "clip", 0) == "error"
    assert store.stage_status(job, "admitted", 0) == "created"
    dedup_before = store.lineage(job, "dedup").agg(
        F.sum("wall_ms")).collect()[0][0]
    # resume with the corrected input: dedup/decontam skipped, clip reruns
    curate_images(spark, imgs, store, eval_df=ev, clip_pairs=pairs,
                  job_id=job, **_KW)
    assert store.stage_status(job, "schedule", 0) == "done"
    # the committed dedup stage was NOT re-executed (same lineage bytes)
    dedup_after = store.lineage(job, "dedup").agg(
        F.sum("wall_ms")).collect()[0][0]
    assert dedup_after == dedup_before
    assert _result_rows(admission_table(store, job)) == want


def test_resume_with_different_params_is_refused(spark, inputs, staged):
    imgs, ev, pairs = inputs
    store, job = staged
    with pytest.raises(ValueError, match="different parameters"):
        curate_images(spark, imgs, store, eval_df=ev, clip_pairs=pairs,
                      job_id=job, **{**_KW, "dedup_hamming": 10})
    # dropping an optional input also changes the recorded shape
    with pytest.raises(ValueError, match="different parameters"):
        curate_images(spark, imgs, store, eval_df=None, clip_pairs=pairs,
                      job_id=job, **_KW)
