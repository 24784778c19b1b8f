"""Trained character-n-gram language identification (training-data pipeline
extension; upgrades the 5-word marker heuristic in ``operators.text``).

Method is public knowledge (Cavnar & Trenkle 1994, n-gram text
categorization; naive-Bayes n-gram scoring as in langid.py / CLD): per
language, a profile of its top-K character n-grams with log-frequency
weights; a document is scored per language by summing the weights of its
n-gram occurrences (a fixed floor penalty for grams outside the profile)
and normalizing by the document's gram count. Profiles are PLUGGABLE — any
(lang, gram, w_micro) DataFrame trained on any corpus plugs into
:func:`langid_ngram_udf`.

Engine-portability: weights are MICRO-integers (``round(ln(p) * 1e6)`` as
BIGINT), so every aggregation is an exact integer sum — float group-sums
are order-dependent in their last bits across engines, integer sums are
not — and the whole train+classify pipeline has an exact ANSI-SQL oracle.

Scale shape: training is one explode + groupBy over the training corpus
(linear, one shuffle) + a per-language top-K window over the (lang, gram)
counts table (small). Classification (:func:`langid_ngram_udf`) scores
inside Arrow batches against the broadcast profile dict — no gram
explode, no shuffle, one pass per document. Its correctness reference is
the DuckDB oracle of the ``langid_ngram`` gate, which recomputes training
and scoring in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

#: floor log-probability (micro units) for grams absent from a profile;
#: ln(1e-6) ~= -13.8 rounded to a portable constant
MISS_PENALTY_MICRO = -14_000_000

#: embedded 9-language demo training corpus (ASCII transliteration — the
#: md5/trigram pipeline is byte-exact across engines without any encoding
#: negotiation). Real deployments train profiles on their own corpus and
#: pass any (lang, gram, w_micro) table; this constant is the single
#: source for the entry-gate oracle and the held-out tests.
DEMO_TRAIN = [
    ("en", "the quick brown fox jumps over the lazy dog and then sleeps"),
    ("en", "this is a sentence with common english words and the usual endings"),
    ("en", "what are the things that make language identification work well"),
    ("de", "der schnelle braune fuchs springt ueber den faulen hund und schlaeft"),
    ("de", "dies ist ein satz mit den ueblichen deutschen woertern und endungen"),
    ("de", "was sind die dinge die die spracherkennung gut funktionieren lassen"),
    ("fr", "le renard brun rapide saute par dessus le chien paresseux et dort"),
    ("fr", "ceci est une phrase avec les mots francais habituels et les terminaisons"),
    ("fr", "quelles sont les choses qui font bien fonctionner la reconnaissance"),
    ("es", "el rapido zorro marron salta sobre el perro perezoso y luego duerme"),
    ("es", "esta es una frase con las palabras espanolas habituales y terminaciones"),
    ("es", "cuales son las cosas que hacen que funcione bien la identificacion"),
    ("it", "la volpe marrone veloce salta sopra il cane pigro e poi dorme"),
    ("it", "questa e una frase con le solite parole italiane e le desinenze"),
    ("it", "quali sono le cose che fanno funzionare bene il riconoscimento"),
    ("pt", "a raposa marrom rapida salta sobre o cachorro preguicoso e dorme"),
    ("pt", "esta e uma frase com as palavras portuguesas habituais e terminacoes"),
    ("pt", "quais sao as coisas que fazem o reconhecimento funcionar bem"),
    ("nl", "de snelle bruine vos springt over de luie hond en slaapt daarna"),
    ("nl", "dit is een zin met de gebruikelijke nederlandse woorden en uitgangen"),
    ("nl", "wat zijn de dingen die taalherkenning goed laten werken"),
    ("sv", "den snabba bruna raven hoppar over den lata hunden och sover sedan"),
    ("sv", "detta ar en mening med de vanliga svenska orden och andelserna"),
    ("sv", "vilka ar de saker som far sprakigenkanning att fungera bra"),
    ("pl", "szybki brazowy lis skacze nad leniwym psem a potem spi"),
    ("pl", "to jest zdanie ze zwyklymi polskimi slowami i koncowkami"),
    ("pl", "jakie sa rzeczy ktore sprawiaja ze rozpoznawanie dziala dobrze"),
]


def _round6(x: float) -> float:
    """SQL-parity rounding: F.round applies HALF_UP to the SHORTEST
    DECIMAL representation of the double (BigDecimal.valueOf), whereas
    Python's round() is banker's on the binary value — they disagree on
    exact .5 ties (e.g. -12.5 micro), which would break equality with the
    SQL-rounded scores on tie-hitting corpora."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Character n-grams of the whitespace-normalized lowercase text
    (empty array for texts shorter than ``n``)."""
    s = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    ln = F.length(s)
    idx = F.sequence(F.lit(1), ln - (n - 1))
    return F.when(
        ln >= n, F.transform(idx, lambda i: F.substring(s, i, F.lit(n)))
    ).otherwise(F.array().cast("array<string>"))


def train_ngram_profiles(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    n: int = 3,
    top_k: int = 200,
) -> DataFrame:
    """Train per-language profiles: the top ``top_k`` n-grams per language
    (count desc, gram asc — deterministic) with micro-integer log-frequency
    weights ``w_micro = round(ln(cnt / total_lang_grams) * 1e6)``."""
    g = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(char_ngrams(F.col(text_col), n)).alias("gram"),
    )
    counts = g.groupBy("lang", "gram").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("gram").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .join(totals, "lang")
        .select(
            "lang", "gram",
            F.round(F.log(F.col("cnt") / F.col("tot")) * F.lit(1e6))
            .cast("long").alias("w_micro"),
        )
    )


def _profile_scorer(prof_rows, n: int = 3,
                    miss_penalty_micro: int = MISS_PENALTY_MICRO):
    """Build the per-text scoring closure (text -> (lang_pred, score))
    from COLLECTED profile rows — the single source of the langid
    numerics, shared by :func:`langid_ngram_udf` and the fused corpus row
    stage (``operators/corpus.py``) so the two cannot diverge. Construct
    INSIDE the worker function (once per task) — the closure holds the
    gram->weight-vector table."""
    import re

    import numpy as np

    by_lang: dict[str, dict[str, int]] = {}
    for r in prof_rows:
        by_lang.setdefault(r["lang"], {})[r["gram"]] = int(r["w_micro"])
    langs = sorted(by_lang)
    pen = int(miss_penalty_micro)
    # ONE lookup per gram: gram -> int64 weight vector over all languages
    # (missing-from-that-profile entries pre-filled with the penalty), so a
    # doc scores with len(grams) dict hits + one numpy column sum instead of
    # len(grams) * len(langs) scalar lookups
    pen_vec = np.full(len(langs), pen, dtype=np.int64)
    table: dict[str, np.ndarray] = {}
    for li, lang in enumerate(langs):
        for gram, wm in by_lang[lang].items():
            vec = table.get(gram)
            if vec is None:
                vec = pen_vec.copy()
                table[gram] = vec
            vec[li] = wm
    nn = int(n)
    # EXACT SQL-semantics normalization, or scoring silently diverges from
    # the oracle on multi-line/tabbed text: SQL trim strips SPACES only
    # (not \n\t), and the regex \s is the ASCII class — Python's
    # strip()/re \s additionally cover Unicode whitespace (U+00A0 etc.)
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def score_one(t):
        s = ws.sub(" ", (t or "").strip(" ").lower())
        if len(s) < nn:
            return "und", 0.0
        n_grams = len(s) - nn + 1
        acc = np.zeros(len(langs), dtype=np.int64)
        found = 0
        get = table.get
        for i in range(n_grams):
            vec = get(s[i : i + nn])
            if vec is not None:
                acc += vec
                found += 1
        tot = acc + pen_vec * (n_grams - found)
        # argmax with lexicographic tiebreak == first max over the
        # sorted language axis
        best = int(np.argmax(tot))
        return langs[best], _round6(int(tot[best]) / n_grams / 1e6)

    return score_one


def langid_ngram_udf(
    df: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    miss_penalty_micro: int = MISS_PENALTY_MICRO,
) -> DataFrame:
    """Classify each document against the profile table. Output:
    (id_col, lang_pred, score) — score is the winning language's mean
    per-gram log-probability (6dp); 'und' / 0.0 for documents with no
    n-grams. Ties break lexicographically on language.

    Profiles are collected once (bounded: langs x top_k rows) and broadcast
    inside an Arrow-batched stage; each document is scored in one pass with
    NO gram explode and no shuffle."""
    import pandas as pd

    prof_rows = profiles.collect()  # bounded: len(langs) * top_k

    def score(batches):
        score_one = _profile_scorer(prof_rows, n, miss_penalty_micro)
        for pdf in batches:
            ids, preds, scores = pdf[id_col], [], []
            for t in pdf[text_col]:
                p, s = score_one(t)
                preds.append(p)
                scores.append(s)
            yield pd.DataFrame({id_col: ids, "lang_pred": preds, "score": scores})

    id_type = dict(df.dtypes)[id_col]
    from tilecloud_chain_spark.session import ensure_parallelism

    src = ensure_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(
        score, f"{id_col} {id_type}, lang_pred string, score double"
    )
