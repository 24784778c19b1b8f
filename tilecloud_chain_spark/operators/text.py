"""Text-analysis operators for the documents table (training-data pipeline
extensions mandated by the task brief; no counterpart in the reference).

All pure Column expressions (JVM-side, codegen-friendly) so every one of
them has an exact ANSI-SQL oracle:

- token counting: whitespace tokens + a BPE-ish subword estimate,
- quality scoring: length / punctuation / stopword / repetition ratios,
- language ID: stopword-hit heuristic over small per-language marker sets,
- document fingerprinting: content hash + length-bucketed rolling shingle
  fingerprint (first/min shingle hashes).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 - pandas_udf type hints resolve via module globals
from pyspark.sql import Column, DataFrame, functions as F

from tilecloud_chain_spark.operators.prefix import prefix_sum

# tiny marker sets; a real system would ship trained n-gram profiles, but the
# operator shape (scored CASE over marker hits) is the same.
_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "nicht"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "y", "las"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty-string-safe)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Subword-count estimate: words of <=4 chars are 1 token, longer words
    ~ceil(len/4) tokens (a BPE-like regex segmentation without a vocab)."""
    return F.aggregate(
        tokens(text),
        F.lit(0),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("int"),
    )


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = _LANG_MARKERS["en"]) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column) -> Column:
    no_punct = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(no_punct)) / F.greatest(F.length(text), F.lit(1))


def repetition_ratio(text: Column) -> Column:
    """1 - distinct_tokens/tokens — crude boilerplate/spam indicator."""
    toks = tokens(F.lower(text))
    return F.lit(1.0) - F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, not too repetitive,
    sane punctuation density."""
    n = token_count(text)
    len_term = F.least(n / F.lit(64.0), F.lit(1.0))
    rep_term = F.lit(1.0) - repetition_ratio(text)
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * F.lit(4.0), F.lit(1.0))
    return F.round((len_term + rep_term + punct_term) / F.lit(3.0), 6)


def lang_id(text: Column) -> Column:
    """Pick the language whose marker stopwords hit most tokens (ties ->
    lexicographic first; 'und' = undetermined when nothing hits)."""
    toks = tokens(F.lower(text))

    def _hits(markers):
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = [(lang, _hits(markers)) for lang, markers in sorted(_LANG_MARKERS.items())]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, s in reversed(scores):
        expr = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column) -> Column:
    """Document fingerprint: min md5 over 3-token shingles (rolling-hash
    analog with an engine-portable hash); falls back to md5 of the whole
    text for short docs."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1)))
    shingles = F.transform(
        idx,
        lambda i: F.md5(
            F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1),
                        F.element_at(toks, i + 2))
        ),
    )
    return F.when(n >= 3, F.array_min(shingles)).otherwise(F.md5(F.lower(text)))


def profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text profile of a documents table."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_subtokens"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(repetition_ratio(t), 6).alias("repetition_ratio"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def token_stream_chunks(
    df: DataFrame,
    chunk_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk packing — the way pretraining corpora are actually
    consumed: documents are concatenated into one token stream in a
    deterministic order (``id_col``, must be unique) and the stream is cut
    every ``chunk_tokens``; each document reports its span in the stream
    and the chunk ids it lands in.

    Output: id, n_tokens, start_off, end_off (exclusive), chunk_first,
    chunk_last, n_chunks (0 for empty documents; boundary docs straddle).

    Scale shape: the distributed prefix sum of ``operators/prefix.py`` —
    never a global-window funnel (Spark executes an unpartitioned window
    by moving ALL rows to one partition). Offsets are exact in doubles
    below 2^53 tokens, far past any corpus."""
    base, before, _ = prefix_sum(
        df.select(F.col(id_col).alias("id"),
                  token_count(F.col(text_col)).alias("n_tokens")),
        order_cols=["id"], weight="n_tokens",
    )
    # end as SQL's SUM(n_tokens) OVER (ORDER BY id): defined for a
    # document without text, whose start_off is then null
    end = before + F.coalesce(F.col("n_tokens"), F.lit(0))
    out = base.select(
        "id", "n_tokens",
        (end - F.col("n_tokens")).alias("start_off"),
        end.alias("end_off"),
    )
    # double division (exact for offsets < 2^53) keeps the arithmetic
    # identical across engines for the oracle
    c = F.lit(float(chunk_tokens))
    first = F.floor(F.col("start_off") / c).cast("long")
    last = F.floor((F.col("end_off") - 1) / c).cast("long")
    return out.select(
        "id", "n_tokens", "start_off", "end_off",
        first.alias("chunk_first"), last.alias("chunk_last"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(last - first + 1).cast("long").alias("n_chunks"),
    )


def within_doc_line_stats(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Per-document repeated-line statistics + deduplicated text (first
    occurrence of each line kept, order preserved) — the WITHIN-document
    half of repetition removal (the cross-corpus half is
    ``dedup.dedup_lines``). One Arrow batch stage, no shuffle.

    The first-occurrence scan runs as a genuinely O(L) Python set pass per
    document inside ``mapInPandas``. Column-expression formulations are
    QUADRATIC here no matter how they are phrased: a per-line
    ``array_position(slice(...))`` probe rescans a growing prefix, and an
    ``F.aggregate`` fold threading a seen-map/kept-array accumulator COPIES
    the whole accumulator per element (Catalyst maps/arrays are immutable;
    ``map_contains_key`` is itself a linear key scan) — measured ~4x per
    input doubling, ~80 s for ONE 16k-line document, where this kernel is
    ~milliseconds."""
    id_type = dict(df.dtypes)[id_col]

    def scan(batches):
        for pdf in batches:
            cleans, n_lines, n_kept = [], [], []
            for t in pdf[text_col]:
                lines = (t or "").split("\n")
                seen: set[str] = set()
                kept: list[str] = []
                for ln in lines:
                    if ln not in seen:
                        seen.add(ln)
                        kept.append(ln)
                cleans.append("\n".join(kept))
                n_lines.append(len(lines))
                n_kept.append(len(kept))
            out = pd.DataFrame({
                id_col: pdf[id_col],
                "clean_text": cleans,
                "n_lines": pd.array(n_lines, dtype="int64"),
                "n_distinct_lines": pd.array(n_kept, dtype="int64"),
            })
            out["dup_line_ratio"] = [
                round((a - b) / a, 6) if a else 0.0
                for a, b in zip(n_lines, n_kept)
            ]
            yield out

    from tilecloud_chain_spark.session import ensure_parallelism

    src = ensure_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(
        scan,
        f"{id_col} {id_type}, clean_text string, n_lines long, "
        "n_distinct_lines long, dup_line_ratio double",
    )


def gopher_quality_flags(text: Column) -> Column:
    """Gopher-style document quality rules (Rae et al. 2021, public
    knowledge) as a struct of booleans — a doc passing all is `keep`:

    - word_count_ok: 50 <= tokens <= 100,000
    - mean_word_len_ok: mean token length in [3, 10]
    - symbol_ratio_ok: '#' or ellipsis (ASCII '...' or U+2026) tokens
      < 10% of tokens
    - bullet_ratio_ok: <90% of lines start with a bullet
    - alpha_word_ratio_ok: >=80% of tokens contain a LETTER in any script
      (Unicode \\p{L} — an ASCII [a-z] test would unconditionally reject
      every Cyrillic/Greek/CJK document)

    Pure Column expressions (one pass, codegen-friendly)."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1))
    mean_len = F.aggregate(
        toks, F.lit(0), lambda a, t: a + F.length(t)
    ) / safe_n
    sym = F.size(F.filter(
        toks,
        lambda t: t.contains("#") | t.contains("...") | t.contains("\u2026"),
    ))
    alpha = F.size(F.filter(toks, lambda t: t.rlike(r"\p{L}")))
    lns = F.filter(F.split(text, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.greatest(F.size(lns), F.lit(1))
    bullets = F.size(
        F.filter(lns, lambda x: F.trim(x).rlike(r"^([-*•])"))
    )
    flags = F.struct(
        ((n >= 50) & (n <= 100_000)).alias("word_count_ok"),
        ((mean_len >= 3.0) & (mean_len <= 10.0)).alias("mean_word_len_ok"),
        (sym / safe_n < 0.1).alias("symbol_ratio_ok"),
        (bullets / n_lines < 0.9).alias("bullet_ratio_ok"),
        (alpha / safe_n >= 0.8).alias("alpha_word_ratio_ok"),
    )
    return flags


def gopher_keep(text: Column) -> Column:
    """True iff every :func:`gopher_quality_flags` rule passes."""
    f = gopher_quality_flags(text)
    return (
        f["word_count_ok"] & f["mean_word_len_ok"] & f["symbol_ratio_ok"]
        & f["bullet_ratio_ok"] & f["alpha_word_ratio_ok"]
    )


# PII patterns (public knowledge — the standard C4/Dolma-style scrub set);
# Java regex syntax (these run JVM-side in regexp_replace/regexp_count)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(?<![\w.])(\+?\d{1,2}[ .-]?)?(\(\d{3}\)|\d{3})[ .-]?\d{3}[ .-]?\d{4}(?![\w])",
    # trailing guard rejects only ".digit" / digit continuations (version
    # strings like 1.2.3.4.5) — a bare sentence-final period must NOT
    # block redaction ("attacker at 203.0.113.9." is the common placement)
    "ipv4": r"(?<![\w.])(\d{1,3}\.){3}\d{1,3}(?!\.?\d)(?!\w)",
}
PII_TOKENS = {"email": "<EMAIL>", "phone": "<PHONE>", "ipv4": "<IP>"}


def redact_pii(text: Column, kinds: tuple[str, ...] = ("email", "phone", "ipv4")) -> Column:
    """Replace PII matches with typed placeholder tokens — the standard
    pre-training scrub pass. Pure Column (chained JVM regexp_replace, one
    codegen stage); kinds apply in the given order (email before phone so
    digits inside a replaced email cannot re-match)."""
    out = text
    for k in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[k], PII_TOKENS[k])
    return out


def pii_counts(text: Column, kinds: tuple[str, ...] = ("email", "phone", "ipv4")) -> Column:
    """Struct of per-kind PII match counts (audit/reporting side of the
    scrub — e.g. drop documents whose density exceeds a threshold).

    Counts are PROGRESSIVE over the same redaction order as
    :func:`redact_pii` (each kind counted on the text with earlier kinds
    already replaced), so the numbers agree with what redact_pii actually
    redacts — independent raw-text counts would double-count overlaps
    (the phone pattern matches the digits inside an email's local part).
    Takes the same ``kinds`` as redact_pii for the same reason."""
    cur = text
    cols = []
    for k in kinds:
        cols.append(F.regexp_count(cur, F.lit(PII_PATTERNS[k])).alias(k))
        cur = F.regexp_replace(cur, PII_PATTERNS[k], PII_TOKENS[k])
    return F.struct(*cols)


def normalize_text_udf():
    """Arrow-batched Unicode normalization kernel: NFC composition,
    control-character stripping (keeping \\n and \\t), and horizontal
    whitespace collapse — the canonical first pass of a crawl-cleaning
    pipeline (two byte-different encodings of the same accented word must
    hash/shingle/dedup identically downstream). Returns a pandas_udf usable
    as a Column function."""
    import re
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # strips \r too: CRLF corpora normalize to LF so "a\r\nb" == "a\nb"
    # downstream; C1 controls (\x80-\x9f) are junk in decoded text
    ctrl = re.compile("[\x00-\x08\x0b-\x0c\x0d\x0e-\x1f\x7f\u0080-\u009f]")
    hspace = re.compile(r"[ \t\u1680  -   　]+")

    @pandas_udf("string")
    def _normalize(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            s = unicodedata.normalize("NFC", t)
            s = ctrl.sub("", s)
            s = hspace.sub(" ", s)
            out.append(s)
        return pd.Series(out)

    return _normalize
