"""Trained document-quality classifier (training-data pipeline extension;
the trained counterpart of the rule-based Gopher flags in
``operators.text``).

Method is public knowledge (fastText-style linear text classification:
Joulin et al. 2016 "Bag of Tricks for Efficient Text Classification" —
bag-of-words + word-bigram features scored by a linear model; here the
weights come from naive-Bayes log-frequency estimation as in
``operators.langid``, which keeps training a pure count aggregation). Per
label, a profile of its top-K features (word unigrams + adjacent-word
bigrams) with log-frequency weights; a document scores per label by
summing weights over its feature occurrences (fixed floor penalty for
features outside the profile), normalized by its feature count. Profiles
are PLUGGABLE — any (label, feat, w_micro) DataFrame trained on any
labeled corpus plugs into :func:`quality_classify_udf`.

Engine-portability: weights are MICRO-integers (``round(ln(p) * 1e6)`` as
BIGINT), so every aggregation is an exact integer sum and the whole
train+classify pipeline has an exact ANSI-SQL oracle (gate entry
``quality_score_docs``).

Scale shape: training is one explode + groupBy over the (small) labeled
corpus + a per-label top-K window. Classification
(:func:`quality_classify_udf`) scores inside Arrow batches against the
broadcast profile dict — no feature explode, no shuffle, one pass per
document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from tilecloud_chain_spark.operators.text import tokens

#: floor log-probability (micro units) for features absent from a profile
MISS_PENALTY_MICRO = -14_000_000

#: embedded demo training corpus — high-quality prose vs. low-quality crawl
#: junk (keyword stuffing, listicles, boilerplate chrome). Single source for
#: the entry-gate oracle and the held-out tests; real deployments train on
#: their own labeled sample and pass any (label, feat, w_micro) table.
DEMO_QUALITY_TRAIN = [
    ("good", "the committee reviewed the proposal and decided to fund the project after a careful discussion of its merits"),
    ("good", "researchers observed that the river changed course over several decades as sediment accumulated along the banks"),
    ("good", "she explained the theorem clearly and the students followed each step of the proof without difficulty"),
    ("good", "the novel traces three generations of a family through war migration and the slow work of rebuilding a home"),
    ("good", "engineers tested the bridge design under simulated loads and published the results in a peer reviewed journal"),
    ("good", "local farmers adapted to the drier climate by planting hardier crops and sharing irrigation equipment"),
    ("good", "the museum restored the painting carefully removing layers of varnish to reveal the original colors beneath"),
    ("good", "historians debate whether the treaty actually caused the conflict or merely delayed an inevitable war"),
    ("good", "the patient recovered fully after the new treatment and the doctors documented the case in detail"),
    ("good", "volunteers planted thousands of trees along the watershed to reduce erosion and restore the habitat"),
    ("bad", "click here buy now cheap deals best price click here limited offer buy now discount discount"),
    ("bad", "free free free win a prize subscribe now click subscribe win win amazing prize click now"),
    ("bad", "home about contact privacy terms login register search menu footer copyright all rights reserved"),
    ("bad", "top 10 best cheap viagra casino poker slots jackpot bonus casino poker free spins bonus"),
    ("bad", "lorem ipsum dolor sit amet lorem ipsum dolor sit amet lorem ipsum dolor sit amet"),
    ("bad", "page 1 2 3 4 5 6 7 8 9 10 next previous last first page"),
    ("bad", "error 404 not found page not found error please try again later error not found"),
    ("bad", "cookie policy accept all cookies we use cookies accept cookies manage cookies cookie settings"),
    ("bad", "seo seo keywords ranking traffic backlinks seo tools cheap seo best seo seo services"),
    ("bad", "download now download free download crack keygen serial download now free download fast download"),
]


def features(text: Column) -> Column:
    """fastText-style feature array: lowercase word unigrams + adjacent-word
    bigrams (joined with '_'). Pure Column expression; docs with one token
    contribute just that unigram, empty docs an empty array."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit("_"), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def train_quality_profiles(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    top_k: int = 400,
) -> DataFrame:
    """Train per-label profiles: the top ``top_k`` features per label
    (count desc, feat asc — deterministic) with micro-integer log-frequency
    weights ``w_micro = round(ln(cnt / total_label_feats) * 1e6)``."""
    g = df.select(
        F.col(label_col).alias("label"),
        F.explode(features(F.col(text_col))).alias("feat"),
    )
    counts = g.groupBy("label", "feat").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy("label").agg(F.sum("cnt").alias("tot"))
    w = Window.partitionBy("label").orderBy(F.col("cnt").desc(), F.col("feat").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .join(totals, "label")
        .select(
            "label", "feat",
            F.round(F.log(F.col("cnt") / F.col("tot")) * F.lit(1e6))
            .cast("long").alias("w_micro"),
        )
    )


def quality_classify_udf(
    df: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    miss_penalty_micro: int = MISS_PENALTY_MICRO,
) -> DataFrame:
    """Classify each document against the profile table. Output:
    (id_col, label, score) — score is the winning label's mean per-feature
    log-probability (6dp); 'und' / 0.0 for documents with no features.
    Ties break lexicographically on label.

    Profiles are collected once (bounded: labels x top_k rows) and
    broadcast inside an Arrow-batched stage; each document is scored in
    one pass with NO feature explode and no shuffle.

    Tokenization matches :func:`features` and the SQL oracle exactly: the
    regex ``\\s`` is the ASCII whitespace class and SQL ``trim`` strips
    spaces only, so this must not use str.split()/strip() (Unicode-wide)."""
    import re

    import numpy as np
    import pandas as pd

    from tilecloud_chain_spark.operators.langid import _round6

    prof_rows = profiles.collect()  # bounded: len(labels) * top_k
    by_label: dict[str, dict[str, int]] = {}
    for r in prof_rows:
        by_label.setdefault(r["label"], {})[r["feat"]] = int(r["w_micro"])
    labels = sorted(by_label)
    pen = int(miss_penalty_micro)
    pen_vec = np.full(len(labels), pen, dtype=np.int64)
    table: dict[str, np.ndarray] = {}
    for li, label in enumerate(labels):
        for feat, wm in by_label[label].items():
            vec = table.get(feat)
            if vec is None:
                vec = pen_vec.copy()
                table[feat] = vec
            vec[li] = wm

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def score(batches):
        for pdf in batches:
            ids, preds, scores = pdf[id_col], [], []
            for t in pdf[text_col]:
                toks = [w for w in ws.split((t or "").strip(" ").lower()) if w]
                feats = toks + [
                    f"{a}_{b}" for a, b in zip(toks, toks[1:])
                ]
                if not feats:
                    preds.append("und")
                    scores.append(0.0)
                    continue
                acc = np.zeros(len(labels), dtype=np.int64)
                found = 0
                get = table.get
                for ft in feats:
                    vec = get(ft)
                    if vec is not None:
                        acc += vec
                        found += 1
                tot = acc + pen_vec * (len(feats) - found)
                best = int(np.argmax(tot))  # first max == lexicographic tie
                preds.append(labels[best])
                scores.append(_round6(int(tot[best]) / len(feats) / 1e6))
            yield pd.DataFrame({id_col: ids, "label": preds, "score": scores})

    id_type = dict(df.dtypes)[id_col]
    from tilecloud_chain_spark.session import ensure_parallelism

    src = ensure_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(
        score, f"{id_col} {id_type}, label string, score double"
    )
