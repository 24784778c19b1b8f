"""Resumable corpus-admission plan — the text-side twin of
``plans/curation.py:curate_images``: the text capstone's stage graph
(``operators/corpus.py:corpus_graph``) run through the
:class:`CheckpointStore` by ``plans/graph.py``, every stage committed
with per-partition lineage rows, so a killed run resumes exactly — done
stages are skipped, uncommitted stages re-execute (the same stage-commit
semantics as the tile pipeline; reference parity
store/postgresql.py:443-477).

Stage graph (each stage one ``run_stage`` call at the graph nodes'
zoom 0 — the stages are not zoom-structured; one wave per line, the
stages of a wave run concurrently):

    extract   html_extract                 -> (doc_id, clean_text, n_blocks_*)
    rows      PII scrub + quality floor    -> (doc_id, text, n_pii, quality_keep)
    score     langid + LM, one Arrow pass  -> (doc_id, n_blocks_kept, lang_*,
              lm_keep, n_pii, quality_keep)
    dedup     exact + LSH-CC               -> (doc_id, exact_keep, neardup_keep)
    decontam  eval-shingle overlap         -> (doc_id, decontam_keep)  [optional]
    admitted  flag join + admitted boolean
    pack      token_stream_chunks over the ADMITTED rows only

(score, dedup and decontam form one wave.) Later stages read the
COMMITTED parquet of earlier stages (``store.output``) — a resume
recomputes nothing upstream of the first non-done stage, and the
expensive Arrow extraction parses each page exactly once per job. Each
read is built with the schema the stage committed next to its files, so
building it infers nothing and runs no Spark job. The final table is
row-identical to the single-shot composed operator
(``operators/corpus.py:corpus_admission``), which runs the same graph in
memory; the ``__spark_entry__`` gates pin both against one DuckDB oracle.

Scale shape: stage outputs past ``rows`` are narrow flag tables keyed by
the single doc_id (the lineage 'cell'); document text enters exactly two
stage parquets (extract, rows) and never a flag-join shuffle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tilecloud_chain_spark.checkpoint import CheckpointStore
from tilecloud_chain_spark.operators import corpus as CP
from tilecloud_chain_spark.plans import graph as G


def curate_corpus(
    spark: SparkSession,
    pages: DataFrame,
    store: CheckpointStore,
    langid_profiles: DataFrame,
    lm_model,
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
    skipped, the failed stage re-executes. The parameter set and the
    stage names are recorded in the job marker and a resume with
    DIFFERENT ones is refused (``CheckpointStore.open_job``). The caller
    supplies the same inputs on resume — the store checkpoints stage
    OUTPUTS, not sources (the trained model tables included).
    ``lm_model`` is the trained (bigram_weights, prefix_backoff) tuple or
    a 0-arg callable returning it."""
    params = {
        "lang_allow": list(lang_allow),
        "lm_threshold_micro": int(lm_threshold_micro),
        "min_tokens": int(min_tokens),
        "max_repetition": float(max_repetition),
        "near_threshold": float(near_threshold),
        "decontam_n": int(decontam_n),
        "chunk_tokens": int(chunk_tokens),
        "max_link_density": float(max_link_density),
        "min_block_chars": int(min_block_chars),
    }
    # jusText stopword-density rule, keyed by LANGUAGE CODE so the job
    # marker stays a stable string (a raw set would not round-trip
    # through the params JSON)
    nodes = CP.corpus_graph(pages, langid_profiles, lm_model, eval_df,
                            stopwords=stopwords_lang, **params)
    job_id = store.open_job("curate_corpus", {
        **params, "stopwords_lang": stopwords_lang,
        "nodes": [n.name for n in nodes],
    }, job_id)
    G.run(nodes, ("admitted", "pack"), store=store, job_id=job_id,
          cell=lambda df: F.col("doc_id"))
    return job_id


def admission_table(store: CheckpointStore, job_id: str) -> DataFrame:
    """The composed-operator-shaped result from a finished job: one row
    per document with every stage flag and (for admitted docs) the packing
    coordinates — row-identical to ``corpus_admission``."""
    flags = store.output(job_id, "admitted", 0).drop("cell")
    packed = store.output(job_id, "pack", 0).drop("cell")
    return CP.assemble_corpus_admission(flags, packed)
