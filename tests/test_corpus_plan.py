"""Resumable staged corpus-admission plan (plans/corpus.py): staged
output equals the single-shot composed operator (operators/corpus.py),
per-partition lineage is recorded for every stage, a killed run resumes
exactly, and a resume with different parameters or another stage graph
is refused."""

import json

import pytest
from pyspark.sql import functions as F

from tilecloud_chain_spark.checkpoint import CheckpointStore
from tilecloud_chain_spark.operators import corpus as CP
from tilecloud_chain_spark.operators import text as TX
from tilecloud_chain_spark.operators.corpus import corpus_admission
from tilecloud_chain_spark.operators.langid import DEMO_TRAIN, train_ngram_profiles
from tilecloud_chain_spark.operators.lm import train_bigram_lm
from tilecloud_chain_spark.plans.corpus import admission_table, curate_corpus

N = 40


@pytest.fixture(scope="module")
def inputs(spark):
    """40 crawl pages with per-doc varied word banks (so cross-doc shingle
    Jaccard stays below the near-dup threshold except where intended):
    exact clones (i%9==4 copies page i-1, PII included), near clones
    (i%11==6 copies page i-1 plus a tail), a PII email on every 5th doc,
    and an eval set built from every 8th doc's DOC-UNIQUE 5-gram (the one
    containing 'number {i}'), so decontamination flags sources + clones
    only."""
    adj = "quick lazy sleepy hungry clever brave timid shiny".split()
    ani = "fox dog cat owl hare crow mole".split()
    plc = "meadow forest garden valley harbor".split()
    rows = []
    for i in range(N):
        body = (f"the {adj[i % 8]} {ani[i % 7]} number {i} jumps over "
                f"a {adj[(i * 3) % 8]} {ani[(i * 2) % 7]} near the "
                f"{plc[i % 5]} gate {(i * 3) % 31} and rests beside "
                f"stone {(i * 7) % 29} until {adj[(i * 5) % 8]} dusk "
                f"{(i * 11) % 41} falls")
        if i % 5 == 0:
            body += f" contact user{i}@example.com now"
        rows.append((i, body))
    # exact clones copy the WHOLE previous body (pii included); near
    # clones copy it plus a short tail
    rows = [(i,
             rows[i - 1][1] if (i % 9 == 4 and i > 0) else
             rows[i - 1][1] + " with extra tail words appended"
             if (i % 11 == 6 and i > 0) else b)
            for i, b in rows]
    pages = spark.createDataFrame(rows, "doc_id long, body string").select(
        "doc_id",
        F.concat(
            F.lit("<html><body><nav><a href='/'>one</a> "
                  "<a href='/b'>two</a></nav><p>"),
            F.col("body"), F.lit("</p></body></html>"),
        ).alias("html"),
    )
    profiles = train_ngram_profiles(
        spark.createDataFrame(DEMO_TRAIN, "lang string, text string"))
    ext = CP.extract_stage(pages)
    bw, pw = train_bigram_lm(
        ext.filter("doc_id % 7 = 0").select(F.col("clean_text").alias("text")))
    red = CP.redact_stage(ext)
    # tokens 4..8 = "number {i} jumps over a" — unique to doc i (+clones)
    eval_df = red.filter("doc_id % 8 = 0").select(
        (F.col("doc_id") + 999).alias("doc_id"),
        F.concat_ws(" ", F.slice(TX.tokens(F.col("text")), 4, 5)).alias("text"),
    )
    return pages, profiles, (bw, pw), eval_df


_KW = dict(lang_allow=("en",), lm_threshold_micro=-6_000_000,
           chunk_tokens=32)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def want(inputs, fixed_join_plans):
    """The composed operator's result — the reference every staged run
    must reproduce — computed with one plan per query, so that
    ``test_repeat_call_compiles_no_class`` can repeat the call."""
    with fixed_join_plans():
        return _rows(corpus_admission(*inputs, **_KW))


@pytest.fixture(scope="module")
def staged(spark, inputs, tmp_path_factory):
    """One finished staged job: (store, job_id)."""
    store = CheckpointStore(spark, str(tmp_path_factory.mktemp("corpus")))
    return store, curate_corpus(spark, inputs[0], store, *inputs[1:], **_KW)


def test_repeat_call_compiles_no_class(inputs, want, fixed_join_plans, count_compiles):
    """A second identical call finds every generated class in Spark's
    codegen cache: no per-call value reaches generated code, and the cache
    holds the whole query set. Runs first in the module, so the only call
    before it is the ``want`` fixture's."""
    with fixed_join_plans():
        rows, n = count_compiles(lambda: _rows(corpus_admission(*inputs, **_KW)))
    assert rows == want
    assert n == 0


def test_staged_plan_equals_composed_operator(staged, want):
    store, job = staged
    assert _rows(admission_table(store, job)) == want
    # fixture sanity: every axis varies
    adm = admission_table(store, job)
    assert 0 < adm.filter("admitted").count() < N
    assert adm.filter("NOT exact_keep").count() > 0
    assert adm.filter("NOT neardup_keep").count() > 0
    assert adm.filter("NOT lm_keep").count() > 0
    assert adm.filter("n_pii > 0").count() > 0
    assert adm.filter("NOT decontam_keep").count() > 0
    assert adm.filter("admitted AND chunk_first IS NOT NULL").count() > 0
    # every stage recorded lineage covering all docs
    for stage in ("extract", "rows", "score", "dedup", "decontam",
                  "admitted"):
        lin = store.lineage(job, stage)
        agg = lin.agg(F.sum("row_count").alias("rows"),
                      F.min("cell_min").alias("lo")).collect()[0]
        assert agg["rows"] == N, stage
        assert agg["lo"] == 0, stage


def test_rerun_same_job_skips_and_param_change_refused(spark, inputs,
                                                       staged, want):
    store, job = staged
    pages, rest = inputs[0], inputs[1:]
    job2 = curate_corpus(spark, pages, store, *rest, job_id=job, **_KW)
    assert job2 == job
    assert _rows(admission_table(store, job)) == want
    with pytest.raises(ValueError, match="different parameters"):
        curate_corpus(spark, pages, store, *rest,
                      job_id=job, lang_allow=("en",),
                      lm_threshold_micro=-5_000_000, chunk_tokens=32)


def test_resume_across_stage_graphs_refused(spark, inputs, staged):
    """A job whose marker records another stage graph — here the earlier
    9-stage text graph, whose committed ``redact`` output has no
    ``quality_keep`` column — is not resumed."""
    store, job = staged
    name, params = store.job(job)["command"].split(" ", 1)
    old = json.loads(params)
    assert old["nodes"] == ["extract", "rows", "score", "dedup", "decontam",
                            "admitted", "pack"]
    old["nodes"] = ["extract", "redact", "lang", "lm", "quality", "dedup",
                    "decontam", "admitted", "pack"]
    doctored = store.create_job(
        name, command=f"{name} {json.dumps(old, sort_keys=True)}")
    with pytest.raises(ValueError, match="different parameters"):
        curate_corpus(spark, inputs[0], store, *inputs[1:],
                      job_id=doctored, **_KW)


def test_kill_mid_run_resumes_exactly(spark, inputs, want, tmp_path):
    import os

    pages, profiles, lm_model, eval_df = inputs
    store = CheckpointStore(spark, str(tmp_path))
    # an eval set with a wrong column name kills the decontam stage; its
    # wave siblings score and dedup still commit
    bad_eval = eval_df.withColumnRenamed("text", "wrong_name")
    with pytest.raises(Exception):
        curate_corpus(spark, pages, store, profiles, lm_model, bad_eval,
                      **_KW)
    job = [d.split("=", 1)[1]
           for d in os.listdir(f"{tmp_path}/stages")][0]
    for stage in ("extract", "rows", "score", "dedup"):
        assert store.stage_status(job, stage, 0) == "done", stage
    assert store.stage_status(job, "decontam", 0) == "error"
    assert store.stage_status(job, "admitted", 0) == "created"
    extract_before = store.lineage(job, "extract").agg(
        F.sum("wall_ms")).collect()[0][0]
    # resume with the corrected input: committed stages skipped
    curate_corpus(spark, pages, store, profiles, lm_model, eval_df,
                  job_id=job, **_KW)
    assert store.stage_status(job, "pack", 0) == "done"
    extract_after = store.lineage(job, "extract").agg(
        F.sum("wall_ms")).collect()[0][0]
    assert extract_after == extract_before  # extraction ran exactly once
    assert _rows(admission_table(store, job)) == want
