"""The text-corpus admission capstone (r8 — the text-side twin of
``operators/image_curation.py:image_admission``): the full
crawl-to-training-corpus decision a real LLM data pipeline makes,

    html_extract -> PII redaction + quality floor -> langid + LM
    perplexity / exact + near dedup / benchmark decontamination
    -> admission -> shard packing

returning ONE row per document with every stage flag, the final
``admitted`` boolean, and (for admitted docs) the token-stream packing
coordinates. The stage graph is declared once (:func:`corpus_graph`:
extract -> rows -> {score, dedup, decontam} -> admitted -> pack) and run
by ``plans/graph.py`` either in memory (:func:`corpus_admission`) or
through the CheckpointStore (``plans/corpus.py:curate_corpus``), so the
staged result is row-identical to this operator (gate-pinned).

Scale shape: every stage is the already-scale-shaped operator it wraps —
one Arrow stage for extraction, one Arrow pass scoring langid/LM against
the collected micro-integer models, pure-Column quality/PII,
collapsed-LSH star edges + CC for near-dup, broadcast eval shingles for
decontamination, distributed prefix sum for packing. The composition
adds only narrow flag-table joins keyed by doc_id (hash joins on a single
long key — no wide rows in any shuffle).

The per-stage helpers :func:`redact_stage`, :func:`lang_stage`,
:func:`lm_stage`, :func:`quality_stage` and :func:`compose_corpus_flags`
are not part of the graph: they are the independent stage-by-stage
reference the benchmark's text check (``perfbench/workloads.py``)
compares the graph against."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tilecloud_chain_spark.operators import dedup as DD
from tilecloud_chain_spark.operators import lm as LM
from tilecloud_chain_spark.operators import text as TX
from tilecloud_chain_spark.operators.html import html_extract
from tilecloud_chain_spark.operators.langid import langid_ngram_udf
from tilecloud_chain_spark.plans.graph import Node, run


def extract_stage(
    pages: DataFrame,
    *,
    max_link_density: float = 0.4,
    min_block_chars: int = 25,
    stopwords=None,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> DataFrame:
    """(doc_id, clean_text, n_blocks_kept, n_blocks_dropped)."""
    return html_extract(
        pages, max_link_density, min_block_chars,
        id_col=id_col, html_col=html_col, stopwords=stopwords,
    )


def _redacted_cols(c) -> tuple:
    """The redaction projection, single-source for :func:`redact_stage`
    and the graph's ``rows`` node: (text, n_pii) columns over the
    clean-text column ``c``."""
    pii = TX.pii_counts(c)
    return (
        TX.redact_pii(c).alias("text"),
        (pii["email"] + pii["phone"] + pii["ipv4"]).cast("int").alias("n_pii"),
    )


def _quality_col(c, min_tokens: int, max_repetition: float):
    """The corpus-hygiene floor rule as one boolean Column over the
    clean-text column ``c`` — single-source for :func:`quality_stage` and
    the graph's ``rows`` node."""
    return (
        (TX.token_count(c) >= min_tokens)
        & (TX.repetition_ratio(c) <= F.lit(max_repetition))
    ).alias("quality_keep")


def redact_stage(extracted: DataFrame) -> DataFrame:
    """(doc_id, text, n_pii) — PII-scrubbed clean text; ``n_pii`` is the
    total typed-match count (audit column). Per-stage reference, not a
    graph node (module docstring)."""
    return extracted.select("doc_id", *_redacted_cols(F.col("clean_text")))


def lang_stage(extracted: DataFrame, profiles: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, lang_score) over the extracted clean text, scored
    in one Arrow pass (broadcast profile dict, no gram explode, no
    shuffle). Per-stage reference, not a graph node (module docstring)."""
    return langid_ngram_udf(
        extracted.select("doc_id", F.col("clean_text").alias("text")),
        profiles,
    ).select("doc_id", "lang_pred", F.col("score").alias("lang_score"))


def lm_stage(
    extracted: DataFrame,
    bigram_weights: DataFrame,
    prefix_backoff: DataFrame,
    keep_threshold_micro: int = LM.KEEP_THRESHOLD_MICRO,
) -> DataFrame:
    """(doc_id, lm_keep) — perplexity gate over the extracted clean text,
    scored in one Arrow pass (broadcast weight dicts, no bigram explode).
    Per-stage reference, not a graph node (module docstring)."""
    return LM.lm_score_udf(
        extracted.select("doc_id", F.col("clean_text").alias("text")),
        bigram_weights, prefix_backoff,
        keep_threshold_micro=keep_threshold_micro,
    ).select("doc_id", F.col("keep").alias("lm_keep"))


def quality_stage(
    extracted: DataFrame,
    min_tokens: int = 5,
    max_repetition: float = 0.8,
) -> DataFrame:
    """(doc_id, quality_keep) — the corpus-hygiene floor rule (token count
    + repetition ratio, the ``clean_corpus`` convention); the full Gopher
    rule set stays available as ``text.gopher_keep`` for corpora long
    enough to clear its 50-token floor. Per-stage reference, not a graph
    node (module docstring)."""
    return extracted.select(
        "doc_id",
        _quality_col(F.col("clean_text"), min_tokens, max_repetition),
    )


def scored_rows_stage(
    extracted: DataFrame,
    langid_profiles: DataFrame,
    lm_model: tuple[DataFrame, DataFrame],
    *,
    lm_threshold_micro: int = LM.KEEP_THRESHOLD_MICRO,
) -> DataFrame:
    """The graph's Arrow scoring pass: (doc_id, n_blocks_kept, lang_pred,
    lang_score, lm_keep).

    langid and LM perplexity share ONE Arrow stage (one JVM->Python->JVM
    round trip over the clean text instead of two — the scoring closures
    are the exact ones :func:`lang_stage` and :func:`lm_stage` build,
    factored single-source so they cannot diverge). The clean text
    crosses the Arrow boundary inward only; the redaction / quality
    columns come from the graph's JVM-only ``rows`` node, so this pass
    runs CONCURRENTLY with the dedup chain."""
    import pandas as pd

    from tilecloud_chain_spark.operators.langid import _profile_scorer
    from tilecloud_chain_spark.operators.lm import _bigram_scorer

    bw, pw = lm_model
    # three bounded model collects (langs x top_k profile rows, reference
    # bigram vocabulary x2) with independent lineages — run concurrently;
    # serially each paid its own job latency back-to-back
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_prof = pool.submit(langid_profiles.collect)
        f_bw = pool.submit(bw.collect)
        f_pw = pool.submit(pw.collect)
        prof_rows, bw_rows, pw_rows = (
            f_prof.result(), f_bw.result(), f_pw.result()
        )
    thr = int(lm_threshold_micro)

    def run(batches):
        lang_one = _profile_scorer(prof_rows)
        lm_one = _bigram_scorer(bw_rows, pw_rows)
        for pdf in batches:
            preds, scores, keeps = [], [], []
            for t in pdf["clean_text"]:
                p, s = lang_one(t)
                preds.append(p)
                scores.append(s)
                lp, n = lm_one(t)
                keeps.append(True if n == 0 else lp >= thr * n)
            out = pdf.drop(columns=["clean_text"])
            out["lang_pred"] = preds
            out["lang_score"] = pd.array(scores, dtype="float64")
            out["lm_keep"] = pd.array(keeps, dtype="bool")
            yield out

    dt = dict(extracted.dtypes)
    return extracted.select("doc_id", "n_blocks_kept", "clean_text").mapInPandas(
        run,
        f"doc_id {dt['doc_id']}, n_blocks_kept {dt['n_blocks_kept']}, "
        "lang_pred string, lang_score double, lm_keep boolean",
    )


def dedup_stage(redacted: DataFrame, near_threshold: float = 0.5) -> DataFrame:
    """(doc_id, exact_keep, neardup_keep) over the redacted text: exact =
    min doc_id per content hash; near = min-id representative of the
    connected component over MinHash-LSH-verified jaccard pairs (collapsed
    star-edge scale recipe, as ``clean_corpus``). Both flags come out of
    the fused single-collapse operator (``dedup.dedup_keep_flags`` — one
    md5 group aggregate instead of a group aggregate PLUS a min-over-md5
    window that re-hashed and re-shuffled every text; rep-level CC with
    member attach, the ``dedup_clusters`` equivalence)."""
    return DD.dedup_keep_flags(
        redacted.select("doc_id", "text"), threshold=near_threshold,
    )


def decontam_stage(
    redacted: DataFrame, eval_df: DataFrame, n: int = 5
) -> DataFrame:
    """(doc_id, decontam_keep) — keep iff the doc shares no n-gram with
    the (broadcast) eval set."""
    out = DD.decontaminate(redacted.select("doc_id", "text"), eval_df, n=n)
    return out.select("doc_id", (~F.col("contaminated")).alias("decontam_keep"))


def compose_corpus_flags(
    extracted: DataFrame,
    redacted: DataFrame,
    lang: DataFrame,
    lm_flags: DataFrame,
    quality: DataFrame,
    dedup_flags: DataFrame,
    decontam: DataFrame | None,
    lang_allow: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Join the narrow flag tables into the admission row (every stage
    flag + the final boolean). ``decontam`` may be None (no eval set) —
    the flag column is then literal True, mirroring the image capstone's
    optional stages. Per-stage reference, not a graph node (module
    docstring)."""
    out = (
        extracted.select("doc_id", "n_blocks_kept")
        .join(lang, "doc_id")
        .join(lm_flags, "doc_id")
        .join(quality, "doc_id")
        .join(redacted.select("doc_id", "n_pii"), "doc_id")
        .join(dedup_flags, "doc_id")
    )
    return _admission_row(out, decontam, lang_allow)


def _admission_row(
    flags: DataFrame, decontam: DataFrame | None, lang_allow: tuple[str, ...]
) -> DataFrame:
    """The admission rule, single-source for :func:`compose_corpus_flags`
    and the graph's ``admitted`` node: joins the decontamination flags (literal
    True without an eval set) onto ``flags`` — which carries every other
    stage column — and selects the 12-column admission row."""
    if decontam is not None:
        flags = flags.join(decontam, "doc_id")
    else:
        flags = flags.withColumn("decontam_keep", F.lit(True))
    lang_keep = F.col("lang_pred").isin(*lang_allow)
    admitted = (
        lang_keep & F.col("lm_keep") & F.col("quality_keep")
        & F.col("exact_keep") & F.col("neardup_keep") & F.col("decontam_keep")
    )
    return flags.select(
        "doc_id", "n_blocks_kept", "lang_pred", "lang_score",
        lang_keep.alias("lang_keep"), "lm_keep", "quality_keep", "n_pii",
        "exact_keep", "neardup_keep", "decontam_keep",
        admitted.alias("admitted"),
    )


def pack_stage(
    redacted: DataFrame, flags: DataFrame, chunk_tokens: int = 2048
) -> DataFrame:
    """(doc_id, n_tokens, chunk_first, chunk_last) — token-stream packing
    over the ADMITTED documents only, in doc_id order."""
    adm = flags.filter(F.col("admitted")).select("doc_id")
    chunks = TX.token_stream_chunks(
        redacted.join(adm, "doc_id").select("doc_id", "text"),
        chunk_tokens=chunk_tokens,
    )
    return chunks.select(
        F.col("id").alias("doc_id"), "n_tokens", "chunk_first", "chunk_last"
    )


def assemble_corpus_admission(flags: DataFrame, packed: DataFrame) -> DataFrame:
    """Final admission table: flags + packing coordinates (NULL n_tokens /
    chunk span for rejected documents)."""
    return flags.join(packed, "doc_id", "left")




def corpus_graph(pages, langid_profiles, lm_model, eval_df, *, lang_allow,
                 lm_threshold_micro, min_tokens, max_repetition,
                 near_threshold, decontam_n, chunk_tokens, max_link_density,
                 min_block_chars, stopwords) -> list[Node]:
    """The text capstone's stage graph, declared once for the composed
    operator (:func:`corpus_admission`) and the staged plan
    (``plans/corpus.py:curate_corpus``); ``plans/graph.py`` runs it::

        extract   html_extract                 (doc_id, clean_text, n_blocks_*)
        rows      redaction + PII + quality    (doc_id, text, n_pii, quality_keep)
        score     langid + LM, one Arrow pass  + rows' n_pii, quality_keep
        dedup     exact + LSH-CC               (doc_id, exact_keep, neardup_keep)
        decontam  eval-shingle overlap         (doc_id, decontam_keep)  [eval_df]
        admitted  the 12-column admission row
        pack      token_stream_chunks over the admitted documents

    ``rows`` holds the JVM-only columns dedup, decontam and pack read, so
    the Arrow scoring pass (clean text crosses the boundary inward only)
    runs in the same wave as the dedup chain and the decontamination
    probe. ``lm_model`` is ``train_bigram_lm``'s (bigram_weights,
    prefix_backoff) or a 0-arg callable returning it; a callable is
    resolved inside the score node, so the training build (its checkpoint
    executes the training shuffles) overlaps the dedup chain too. The
    other parameters are :func:`corpus_admission`'s, which holds their
    defaults."""
    def _rows(ins: dict) -> DataFrame:
        c = F.col("clean_text")
        return ins["extract"].select(
            "doc_id", *_redacted_cols(c),
            _quality_col(c, min_tokens, max_repetition),
        )

    def _score(ins: dict) -> DataFrame:
        model = lm_model() if callable(lm_model) else lm_model
        return scored_rows_stage(
            ins["extract"], langid_profiles, model,
            lm_threshold_micro=lm_threshold_micro,
        ).join(ins["rows"].select("doc_id", "n_pii", "quality_keep"), "doc_id")

    nodes = [
        Node("extract", (), lambda ins: extract_stage(
            pages, max_link_density=max_link_density,
            min_block_chars=min_block_chars, stopwords=stopwords,
        )),
        Node("rows", ("extract",), _rows),
        Node("score", ("extract", "rows"), _score),
        Node("dedup", ("rows",),
             lambda ins: dedup_stage(ins["rows"], near_threshold)),
    ]
    flags = ("score", "dedup")
    if eval_df is not None:
        nodes.append(Node("decontam", ("rows",), lambda ins: decontam_stage(
            ins["rows"], eval_df, decontam_n)))
        flags += ("decontam",)
    return nodes + [
        Node("admitted", flags, lambda ins: _admission_row(
            ins["score"].join(ins["dedup"], "doc_id"),
            ins.get("decontam"), lang_allow)),
        Node("pack", ("rows", "admitted"), lambda ins: pack_stage(
            ins["rows"], ins["admitted"], chunk_tokens)),
    ]


def corpus_admission(
    pages: DataFrame,
    langid_profiles: DataFrame,
    lm_model,
    eval_df: DataFrame | None = None,
    *,
    lang_allow: tuple[str, ...] = ("en",),
    lm_threshold_micro: int = LM.KEEP_THRESHOLD_MICRO,
    min_tokens: int = 5,
    max_repetition: float = 0.8,
    near_threshold: float = 0.5,
    decontam_n: int = 5,
    chunk_tokens: int = 2048,
    max_link_density: float = 0.4,
    min_block_chars: int = 25,
    stopwords=None,
    extracted: DataFrame | None = None,
) -> DataFrame:
    """The single-shot composed admission decision: :func:`corpus_graph`
    run in memory (see the module docstring).

    ``pages``: (doc_id, html); ``langid_profiles``: a trained
    ``train_ngram_profiles`` table; ``lm_model``: ``train_bigram_lm``'s
    (bigram_weights, prefix_backoff), or a 0-arg callable returning that
    tuple; ``eval_df``: optional (doc_id, text) benchmark set for
    decontamination.

    ``extracted``: an ALREADY-materialized ``extract_stage(pages)`` result
    (same extraction parameters) — callers that extracted the pages once
    to fit the LM / build the eval set pass it here so the Arrow
    extraction pass is not run a second time over the identical input."""
    nodes = corpus_graph(
        pages, langid_profiles, lm_model, eval_df,
        lang_allow=lang_allow, lm_threshold_micro=lm_threshold_micro,
        min_tokens=min_tokens, max_repetition=max_repetition,
        near_threshold=near_threshold, decontam_n=decontam_n,
        chunk_tokens=chunk_tokens, max_link_density=max_link_density,
        min_block_chars=min_block_chars, stopwords=stopwords,
    )
    out = run(nodes, ("admitted", "pack"),
              given=None if extracted is None else {"extract": extracted})
    return assemble_corpus_admission(out["admitted"], out["pack"])
