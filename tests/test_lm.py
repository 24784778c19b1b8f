"""Bigram-LM perplexity filter (operators/lm.py): hand-derived weights,
DuckDB-oracle equality, backoff/OOV/short-doc semantics."""

import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ENTRY
from tilecloud_chain_spark.operators import lm as LM


def _micro(x: float) -> int:
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x * 1e6)).quantize(Decimal("1"), ROUND_HALF_UP))


def test_train_weights_hand_derived(spark):
    """3-doc reference corpus, weights checked against hand-computed
    add-one bigram log-probs (V=5, prefix counts as bigram prefixes)."""
    ref = spark.createDataFrame(
        [("the cat sat",), ("the cat ran",), ("a cat sat",)], "text string"
    )
    bw, pw = LM.train_bigram_lm(ref)
    w = {(r.w1, r.w2): r.w_micro for r in bw.collect()}
    b = {r.w1: r.backoff_micro for r in pw.collect()}
    # V = 5 (the, cat, sat, ran, a); prefix counts: the=2, cat=3, a=1
    assert w[("the", "cat")] == _micro(math.log((2 + 1) / (2 + 5 + 1)))
    assert w[("cat", "sat")] == _micro(math.log((2 + 1) / (3 + 5 + 1)))
    assert w[("cat", "ran")] == _micro(math.log((1 + 1) / (3 + 5 + 1)))
    assert w[("a", "cat")] == _micro(math.log((1 + 1) / (1 + 5 + 1)))
    assert b["the"] == _micro(math.log(1 / (2 + 5 + 1)))
    assert b["cat"] == _micro(math.log(1 / (3 + 5 + 1)))
    assert set(w) == {("the", "cat"), ("cat", "sat"), ("cat", "ran"), ("a", "cat")}


def test_score_backoff_oov_and_short_docs(spark):
    ref = spark.createDataFrame(
        [("the cat sat",), ("the cat ran",), ("a cat sat",)], "text string"
    )
    bw, pw = LM.train_bigram_lm(ref)
    docs = spark.createDataFrame(
        [(0, "the cat sat"),        # all observed
         (1, "the cat slept"),      # (cat, slept) unseen -> backoff(cat)
         (2, "zebra quux things"),  # OOV prefixes -> floor penalty
         (3, "single"),             # <2 tokens -> vacuous keep
         (4, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in LM.lm_score_udf(docs, bw, pw).collect()}
    w_tc = _micro(math.log(3 / 8))
    w_cs = _micro(math.log(3 / 9))
    assert out[0].lp_micro == w_tc + w_cs and out[0].n_bigrams == 2
    assert out[1].lp_micro == w_tc + _micro(math.log(1 / 9))
    assert out[2].lp_micro == 2 * LM.MISS_PENALTY_MICRO
    assert out[2].keep is False  # OOV junk fails the default threshold
    for i in (3, 4):
        assert out[i].n_bigrams == 0 and out[i].lp_micro == 0
        assert out[i].avg_logprob == 0.0 and out[i].keep is True
    assert out[0].avg_logprob == pytest.approx(
        (w_tc + w_cs) / 2 / 1e6, abs=1e-6
    )


def _lm_rows(fmt: str) -> list:
    """80 templated docs (the doc_id % 7 slice is the reference corpus the
    oracle trains on) plus whitespace / short-document edge rows."""
    return [(i, fmt.format(a=i % 13, b=(i * 5) % 17, c=i % 4)) for i in range(80)] + [
        (80, "x"),
        (81, ""),
        # Unicode whitespace (NBSP / line-sep / ideographic space) must NOT
        # split tokens: the regex \s is ASCII-only in Spark and DuckDB
        # alike, and str.split() would diverge
        (82, "common\u00a0tail phrase common\u2028tail common\u3000tail end"),
        (83, "common\ttail phrase\r\nw1 common"),
        (84, "   "),
        (85, "two tokens"),
    ]


def _lm_fit_and_score(spark, rows, fit, score, **kw):
    """Train ``fit`` on the doc_id % 7 slice of ``rows``, score every row;
    rows as a set with avg_logprob rounded to 6dp."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = fit(docs.filter(F.col("doc_id") % 7 == 0))
    return _as_set(score(docs, *model, **kw).collect())


def _as_set(rows):
    return {tuple(r[:-2]) + (round(r[-2], 6), r[-1]) for r in rows}


def test_lm_twin_property(spark, duck_rows):
    """The Arrow scorer equals its SQL twin — the DuckDB oracle, which
    retrains the model on the doc_id % 7 slice and rescores in SQL — row
    for row on a corpus mixing observed / backoff / OOV / short
    documents."""
    rows = _lm_rows("w{a} common tail phrase w{b} novel{c}")
    got = _lm_fit_and_score(
        spark, rows, LM.train_bigram_lm, LM.lm_score_udf,
        keep_threshold_micro=LM.KEEP_THRESHOLD_MICRO,
    )
    sql = ("WITH " + ENTRY._lm_cte_sql("docs", thr=LM.KEEP_THRESHOLD_MICRO)
           + " SELECT doc_id, lp_micro, n_bigrams, avg_logprob, keep FROM lm_out")
    want = _as_set(duck_rows(rows, sql))
    assert got == want, sorted(got ^ want)[:10]


def test_lm_scale_path_plan(spark):
    """The UDF twin is ONE Arrow stage — no explode, no shuffle."""
    ref = spark.createDataFrame([("a b c a b",)], "text string")
    bw, pw = LM.train_bigram_lm(ref)
    docs = spark.createDataFrame(
        [(i, "a b c a b") for i in range(32)], "doc_id long, text string"
    )
    out = LM.lm_score_udf(docs, bw, pw)
    assert out.filter(F.col("keep")).count() == 32
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "Exchange" not in plan, plan


# ==========================================================================
# trigram model (r8)
# ==========================================================================


def test_trigram_train_weights_hand_derived(spark):
    """Trigram weights checked against hand-computed add-one log-probs;
    the lower levels are exactly the bigram model's tables."""
    ref = spark.createDataFrame(
        [("the cat sat",), ("the cat ran",), ("a cat sat",)], "text string"
    )
    tw, bw, pw = LM.train_trigram_lm(ref)
    t = {(r.w1, r.w2, r.w3): r.t_micro for r in tw.collect()}
    # V = 5; trigram-prefix counts: (the,cat)=2, (a,cat)=1
    assert t[("the", "cat", "sat")] == _micro(math.log((1 + 1) / (2 + 5 + 1)))
    assert t[("the", "cat", "ran")] == _micro(math.log((1 + 1) / (2 + 5 + 1)))
    assert t[("a", "cat", "sat")] == _micro(math.log((1 + 1) / (1 + 5 + 1)))
    assert set(t) == {("the", "cat", "sat"), ("the", "cat", "ran"),
                      ("a", "cat", "sat")}
    # bigram tables identical to train_bigram_lm's
    bw0, pw0 = LM.train_bigram_lm(ref)
    assert sorted(map(tuple, bw.collect())) == sorted(map(tuple, bw0.collect()))
    assert sorted(map(tuple, pw.collect())) == sorted(map(tuple, pw0.collect()))


def test_trigram_backoff_chain(spark):
    ref = spark.createDataFrame(
        [("the cat sat",), ("the cat ran",), ("a cat sat",)], "text string"
    )
    tw, bw, pw = LM.train_trigram_lm(ref)
    docs = spark.createDataFrame(
        [(0, "the cat sat"),      # observed trigram
         (1, "a cat ran"),        # trigram unseen -> bigram (cat,ran)+alpha
         (2, "the cat slept"),    # bigram unseen -> prefix(cat)+alpha
         (3, "zebra quux bogus"), # OOV context -> floor
         (4, "two words"),        # <3 tokens -> vacuous keep
         (5, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in LM.lm3_score(docs, tw, bw, pw).collect()}
    a = LM.BACKOFF_ALPHA_MICRO
    assert out[0].lp_micro == _micro(math.log(2 / 8)) and out[0].n_trigrams == 1
    assert out[1].lp_micro == _micro(math.log(2 / 9)) + a  # bw (cat,ran)
    assert out[2].lp_micro == _micro(math.log(1 / 9)) + a  # pw cat
    assert out[3].lp_micro == LM.MISS_PENALTY_MICRO
    for i in (4, 5):
        assert out[i].n_trigrams == 0 and out[i].keep is True


def test_trigram_twin_property(spark, duck_rows):
    """lm3_score equals the ``lm3_quality_docs`` DuckDB oracle (all three
    levels retrained on the doc_id % 7 slice, threshold -4.2e6) on the
    same rows."""
    rows = _lm_rows("w{a} common tail phrase w{b} novel{c} end")
    got = _lm_fit_and_score(
        spark, rows, LM.train_trigram_lm, LM.lm3_score,
        keep_threshold_micro=-4_200_000,
    )
    want = _as_set(
        duck_rows(rows, ENTRY.oracle_sql()["lm3_quality_docs"], "documents")
    )
    assert got == want, sorted(got ^ want)[:10]


def test_trigram_separates_common_word_spam(spark):
    """The held-out test the r7 verdict asked for: spam CHAINED from
    observed word pairs (every adjacent bigram occurs in the reference)
    looks fluent to the bigram model but not to the trigram model —
    separation must widen by a clear margin."""
    sents = ["the cat sat on the mat",
             "the dog ran in the park",
             "the cat ran to the dog",
             "a dog sat by the cat",
             "the mat lay in the sun"]
    # x10 repetition: a reference where the observed transitions are
    # genuinely frequent, as in a real reference corpus
    ref = spark.createDataFrame(
        [(s,) for s in sents for _ in range(10)], "text string")
    tw, bw, pw = LM.train_trigram_lm(ref)
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"),           # held-in fluent
         # spam: every adjacent PAIR is observed in the reference
         # ((the,cat),(cat,ran),(ran,in),(in,the),(the,dog),(dog,sat),
         #  (sat,on),(on,the),(the,mat)) but most TRIPLES are not
         (1, "the cat ran in the dog sat on the mat")],
        "doc_id long, text string",
    )
    b2 = {r.doc_id: r.avg_logprob for r in LM.lm_score_udf(docs, bw, pw).collect()}
    b3 = {r.doc_id: r.avg_logprob
          for r in LM.lm3_score(docs, tw, bw, pw).collect()}
    gap2 = b2[0] - b2[1]   # bigram separation
    gap3 = b3[0] - b3[1]   # trigram separation
    # scoring is exact micro-integer math, so these are deterministic:
    # the bigram model actually prefers the spam slightly (every pair is
    # high-frequency), while the trigram model separates it cleanly
    assert gap2 < 0.0, (b2, "bigram model cannot see pair-chained spam")
    assert gap3 > 0.6, (b3, "trigram model must separate pair-chained spam")
    assert gap3 > gap2 + 0.5


def test_perplexity_buckets(spark):
    """CCNet head/middle/tail bucketing: equal-size rank tertiles over
    the scoreable docs, best-avg docs in 'head', <2-token docs NULL."""
    ref = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog ran in the park",)],
        "text string")
    bw, pw = LM.train_bigram_lm(ref)
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"),      # all observed: best
         (1, "the dog ran in the park"),     # all observed: best
         (2, "the cat ran on the park"),     # mixed backoff
         (3, "the dog sat in the mat"),      # mixed backoff
         (4, "zebra quux bogus words here"), # OOV: worst
         (5, "plugh xyzzy frotz gnusto x"),  # OOV: worst
         (6, "one"), (7, None)],             # unscoreable
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           LM.lm_perplexity_buckets(docs, bw, pw).collect()}
    assert out[0].bucket == "head" and out[1].bucket == "head"
    assert out[2].bucket == "middle" and out[3].bucket == "middle"
    assert out[4].bucket == "tail" and out[5].bucket == "tail"
    assert out[6].bucket is None and out[7].bucket is None
    # equal-size property with a remainder: 7 scoreable docs -> 3/2/2
    # (rank*3 DIV 7: ranks 0-2 head, 3-4 middle, 5-6 tail)
    docs2 = docs.filter("doc_id < 6").unionAll(spark.createDataFrame(
        [(10, "the cat sat in the park")], "doc_id long, text string"))
    got = LM.lm_perplexity_buckets(docs2, bw, pw).groupBy("bucket").count()
    sizes = {r.bucket: r["count"] for r in got.collect()}
    assert sizes == {"head": 3, "middle": 2, "tail": 2}
    # determinism: identical avg ties break by doc_id (docs 0 and 1 tie
    # only if their avgs are equal; re-run must reproduce exactly)
    a = sorted(map(tuple, LM.lm_perplexity_buckets(docs, bw, pw).collect()))
    b = sorted(map(tuple, LM.lm_perplexity_buckets(docs, bw, pw).collect()))
    assert a == b
