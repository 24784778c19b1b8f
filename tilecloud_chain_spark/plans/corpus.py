"""Resumable corpus-admission plan — the text-side twin of
``plans/curation.py:curate_images``: every stage of the crawl-to-corpus
decision (extract -> redact -> langid / LM / quality -> dedup ->
decontaminate -> admitted -> pack) checkpoints through the
:class:`CheckpointStore` with per-partition lineage rows, so a killed run
resumes exactly — done stages are skipped, uncommitted stages re-execute
(the same stage-commit semantics as the tile pipeline; reference parity
store/postgresql.py:443-477).

Stage graph (each stage one ``run_stage`` call, keyed zoom=0):

    extract   html_extract          -> (doc_id, clean_text, n_blocks_*)
    redact    PII scrub             -> (doc_id, text, n_pii)
    lang      langid_ngram_udf      -> (doc_id, lang_pred, lang_score)
    lm        bigram-LM perplexity  -> (doc_id, lm_keep)
    quality   token/repetition rule -> (doc_id, quality_keep)
    dedup     exact + LSH-CC        -> (doc_id, exact_keep, neardup_keep)
    decontam  eval-shingle overlap  -> (doc_id, decontam_keep)  [optional]
    admitted  flag join + admitted boolean
    pack      token_stream_chunks over the ADMITTED rows only

Later stages read the COMMITTED parquet of earlier stages
(``store.output``) — a resume recomputes nothing upstream of the first
non-done stage, and the expensive Arrow extraction parses each page
exactly once per job regardless of how many flag stages consume it. The
final table is row-identical to the single-shot composed operator
(``operators/corpus.py:corpus_admission``); the driver gate pins both
against the same DuckDB oracle.

Scale shape: stage outputs past ``redact`` are narrow flag tables keyed
by the single doc_id (the lineage 'cell'); document text enters exactly
two stage parquets (extract, redact) and never a flag-join shuffle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tilecloud_chain_spark.checkpoint import CheckpointStore
from tilecloud_chain_spark.operators import corpus as CP

_Z = 0  # single partition key: corpus stages are not zoom-structured


def curate_corpus(
    spark: SparkSession,
    pages: DataFrame,
    store: CheckpointStore,
    langid_profiles: DataFrame,
    lm_model: tuple[DataFrame, DataFrame],
    eval_df: DataFrame | None = None,
    *,
    lang_allow: tuple[str, ...] = ("en",),
    lm_threshold_micro: int = -9_000_000,
    min_tokens: int = 5,
    max_repetition: float = 0.8,
    near_threshold: float = 0.5,
    decontam_n: int = 5,
    chunk_tokens: int = 2048,
    max_link_density: float = 0.4,
    min_block_chars: int = 25,
    stopwords_lang: str | None = None,
    job_id: str | None = None,
) -> str:
    """Run (or resume) the staged corpus-admission pipeline; returns
    job_id. Pass it back in to resume after a kill: done stages are
    skipped, the failed stage re-executes. The parameter set is recorded
    in the job marker and a resume with DIFFERENT parameters is refused
    (same contract as ``curate_images``). The caller supplies the same
    inputs on resume — the store checkpoints stage OUTPUTS, not sources
    (the trained model tables included)."""
    import json

    params = json.dumps({
        "lang_allow": list(lang_allow),
        "lm_threshold_micro": int(lm_threshold_micro),
        "min_tokens": int(min_tokens),
        "max_repetition": float(max_repetition),
        "near_threshold": float(near_threshold),
        "decontam_n": int(decontam_n),
        "chunk_tokens": int(chunk_tokens),
        "max_link_density": float(max_link_density),
        "min_block_chars": int(min_block_chars),
        "stopwords_lang": stopwords_lang,
        "has_eval": eval_df is not None,
    }, sort_keys=True)
    command = f"curate_corpus {params}"
    if job_id is None:
        job_id = store.create_job("curate_corpus", command=command)
    else:
        prev = store.job(job_id).get("command", "")
        if prev != command:
            raise ValueError(
                f"job {job_id} was created with different parameters — "
                f"resume must reuse them (or start a new job).\n"
                f"  recorded: {prev}\n  requested: {command}"
            )

    cell = F.col("doc_id").alias("cell")

    def _extract() -> DataFrame:
        return CP.extract_stage(
            pages, max_link_density=max_link_density,
            min_block_chars=min_block_chars,
            # jusText stopword-density rule, keyed by LANGUAGE CODE so the
            # job marker stays a stable string (a raw set would not
            # round-trip through the params JSON)
            stopwords=stopwords_lang,
        ).withColumn("cell", F.col("doc_id"))

    store.run_stage(job_id, "extract", _Z, _extract)
    extracted = store.output(job_id, "extract", _Z).drop("cell")

    def _redact() -> DataFrame:
        return CP.redact_stage(extracted).withColumn("cell", F.col("doc_id"))

    store.run_stage(job_id, "redact", _Z, _redact)
    redacted = store.output(job_id, "redact", _Z).drop("cell")

    store.run_stage(job_id, "lang", _Z, lambda: CP.lang_stage(
        extracted, langid_profiles).select("*", cell))
    store.run_stage(job_id, "lm", _Z, lambda: CP.lm_stage(
        extracted, lm_model[0], lm_model[1], lm_threshold_micro
    ).select("*", cell))
    store.run_stage(job_id, "quality", _Z, lambda: CP.quality_stage(
        extracted, min_tokens, max_repetition).select("*", cell))
    store.run_stage(job_id, "dedup", _Z, lambda: CP.dedup_stage(
        redacted, near_threshold).select("*", cell))
    if eval_df is not None:
        store.run_stage(job_id, "decontam", _Z, lambda: CP.decontam_stage(
            redacted, eval_df, decontam_n).select("*", cell))

    def _admitted() -> DataFrame:
        return CP.compose_corpus_flags(
            extracted,
            redacted,
            store.output(job_id, "lang", _Z).drop("cell"),
            store.output(job_id, "lm", _Z).drop("cell"),
            store.output(job_id, "quality", _Z).drop("cell"),
            store.output(job_id, "dedup", _Z).drop("cell"),
            store.output(job_id, "decontam", _Z).drop("cell")
            if eval_df is not None else None,
            lang_allow=lang_allow,
        ).withColumn("cell", F.col("doc_id"))

    store.run_stage(job_id, "admitted", _Z, _admitted)

    def _pack() -> DataFrame:
        flags = store.output(job_id, "admitted", _Z).drop("cell")
        return CP.pack_stage(redacted, flags, chunk_tokens).withColumn(
            "cell", F.col("doc_id"))

    store.run_stage(job_id, "pack", _Z, _pack)
    return job_id


def admission_table(store: CheckpointStore, job_id: str) -> DataFrame:
    """The composed-operator-shaped result from a finished job: one row
    per document with every stage flag and (for admitted docs) the packing
    coordinates — row-identical to ``corpus_admission``."""
    flags = store.output(job_id, "admitted", _Z).drop("cell")
    packed = store.output(job_id, "pack", _Z).drop("cell")
    return CP.assemble_corpus_admission(flags, packed)
