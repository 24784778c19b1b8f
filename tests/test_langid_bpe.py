"""Trained n-gram language ID + merge-table BPE tests."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ENTRY
from tilecloud_chain_spark.operators import bpe as BP
from tilecloud_chain_spark.operators import langid as LI

# single source: the 9-language corpus shipped with the operator (also
# feeds the entry-gate oracle — drift here would show up cross-engine)
TRAIN = LI.DEMO_TRAIN

HELD_OUT = [
    (1, "en", "the dog jumps over things and the fox sleeps well"),
    (2, "de", "der hund springt und der fuchs schlaeft gut in der nacht"),
    (3, "fr", "le chien saute et le renard dort bien dans la nuit"),
    (4, "es", "el perro salta y el zorro duerme bien por la noche"),
    (5, "und", ""),
    (6, "it", "il cane salta e la volpe dorme bene durante la notte"),
    (7, "pt", "o cachorro salta e a raposa dorme bem durante a noite"),
    (8, "nl", "de hond springt en de vos slaapt goed in de nacht"),
    (9, "sv", "hunden hoppar och raven sover bra under natten"),
    (10, "pl", "pies skacze a lis spi dobrze w nocy"),
]


@pytest.fixture(scope="module")
def profiles(spark):
    train = spark.createDataFrame(TRAIN, "lang string, text string")
    return LI.train_ngram_profiles(train, top_k=200).cache()


def test_langid_classifies_held_out(spark, profiles):
    df = spark.createDataFrame(
        [(i, t) for i, _, t in HELD_OUT], "doc_id long, text string"
    )
    got = {r.doc_id: r.lang_pred for r in LI.langid_ngram_udf(df, profiles).collect()}
    for i, want, _ in HELD_OUT:
        assert got[i] == want, (i, got[i], want)


def _langid_vs_oracle(spark, profiles, duck_rows, rows):
    """langid_ngram_udf over ``rows`` vs its SQL twin — the DuckDB oracle
    CTE (train + classify recomputed in SQL) — on the same rows."""
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.lang_pred, round(r.score, 6))
           for r in LI.langid_ngram_udf(df, profiles).collect()}
    sql = ("WITH " + ENTRY._langid_cte_sql("docs")
           + " SELECT doc_id, lang_pred, score FROM langid_out")
    want = {(i, p, round(s, 6)) for i, p, s in duck_rows(rows, sql)}
    assert got == want, sorted(got ^ want)[:10]


def test_langid_udf_twin_identical(spark, profiles, sf_dir, duck_rows):
    """The Arrow scorer equals the DuckDB oracle on real fixture documents
    (plus the held-out multilingual rows)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    rows = [tuple(r) for r in docs.collect()]
    rows += [(900000 + i, t) for i, _, t in HELD_OUT]
    _langid_vs_oracle(spark, profiles, duck_rows, rows)


def test_char_ngrams_edges(spark):
    df = spark.createDataFrame(
        [(1, "abcd"), (2, "ab"), (3, ""), (4, "  a   b  ")],
        "i int, t string",
    )
    got = {r.i: list(r.g) for r in
           df.select("i", LI.char_ngrams(F.col("t")).alias("g")).collect()}
    assert got[1] == ["abc", "bcd"]
    assert got[2] == []
    assert got[3] == []
    assert got[4] == ["a b"]  # whitespace runs collapse to one space


def test_bpe_trains_classic_merges(spark):
    """Sennrich's worked example: low/lower/newest/widest learns es, est,
    est</w>, lo, low as the first merges, and 'lowest' encodes to
    low + est</w>."""
    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    merges = BP.train_bpe(df, num_merges=5)
    assert merges == [("e", "s"), ("es", "t"), ("est", "</w>"),
                      ("l", "o"), ("lo", "w")]
    enc = BP.bpe_encode(
        spark.createDataFrame([(7, "lowest")], "doc_id long, text string"), merges
    ).collect()[0]
    assert list(enc.bpe_tokens) == ["low", "est</w>"]
    assert enc.n_bpe_tokens == 2


def test_bpe_encode_roundtrip_and_counts(spark, sf_dir):
    """On fixture documents: concatenating a word's BPE symbols (minus the
    end marker) reproduces the word, and the doc's token count is bounded by
    its character count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(50)
    merges = BP.train_bpe(docs, num_merges=60, max_vocab=5000)
    assert len(merges) > 0
    rows = BP.bpe_encode(docs, merges).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in rows[:20]:
        words = texts[r.doc_id].lower().split()
        joined = "".join(r.bpe_tokens).replace(BP.EOW, " ").split()
        assert joined == words
        assert r.n_bpe_tokens <= sum(len(w) + 1 for w in words)
        assert r.n_bpe_tokens >= len(words)  # at least one symbol per word


def test_bpe_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).limit(30)
    m1 = BP.train_bpe(docs, num_merges=25)
    m2 = BP.train_bpe(docs.repartition(7), num_merges=25)
    assert m1 == m2


def test_langid_udf_twin_multiline_whitespace(spark, profiles, duck_rows):
    """Texts with newlines/tabs/CRLF/blank/empty/ideographic-space
    whitespace — the exact class where Python strip()/whitespace-class
    semantics silently diverge from SQL trim and the regex backslash-s:
    the Arrow scorer must still agree with the DuckDB oracle."""
    _langid_vs_oracle(spark, profiles, duck_rows, [
        (1, "the dog\njumps over\tthe fox  \n"),
        (2, "\tder hund\nspringt gut\n\n"),
        (3, "le chien \n sautebien"),
        (4, "   "),
        (5, "el perro\r\nsalta"),
        (6, ""),
        (7, "the dog\u3000jumps over the fox"),
    ])


def test_bpe_external_gpt2_merge_table(spark, tmp_path):
    """A hand-written 10-merge GPT-2-format merges.txt (version header, one
    'left right' pair per rank line, no </w> convention) loads and encodes
    a fixture exactly as greedy lowest-rank application dictates."""
    from tilecloud_chain_spark.operators import bpe as B

    merges_txt = "\n".join([
        "#version: 0.2",
        "",            # blank lines are skipped
        "t h",         # rank 0
        "th e",        # rank 1
        "i n",         # rank 2
        "a n",         # rank 3
        "an d",        # rank 4
        "r e",         # rank 5
        "e r",         # rank 6
        "in g",        # rank 7
        "th ing",      # rank 8  (builds on ranks 0 and 7)
        "s o",         # rank 9
    ])
    p = tmp_path / "merges.txt"
    p.write_text(merges_txt)
    merges = B.load_merges(str(p))
    assert len(merges) == 10 and merges[0] == ("t", "h") and merges[8] == ("th", "ing")

    df = spark.createDataFrame(
        [(1, "the thing and reso rering")], "doc_id long, text string"
    )
    got = B.bpe_encode(df, merges, add_eow=False).collect()[0]
    # 'the'    -> th+e via ranks 0,1; 'thing' -> th+ing+merge via 0,7,8;
    # 'and'    -> an+d via 3,4; 'reso' -> re,s,o then s+o via 5,9;
    # 'rering' -> re,r,ing then no (re,r)/(r,ing) rule -> stays split
    assert list(got.bpe_tokens) == [
        "the", "thing", "and", "re", "so", "re", "r", "ing"
    ], got.bpe_tokens
    assert got.n_bpe_tokens == 8


def test_bpe_merge_table_roundtrip_parity(spark):
    """Trained merges serialized to GPT-2 lines and re-loaded encode
    byte-identically to the in-memory table (the pinned Sennrich golden
    corpus) — external-vocab interchange cannot drift from the trained
    path."""
    from tilecloud_chain_spark.operators import bpe as B

    corpus = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest newest "
             "newest newest newest widest widest widest")],
        "doc_id long, text string",
    )
    merges = B.train_bpe(corpus, num_merges=5)
    reloaded = B.load_merges(B.merges_to_lines(merges))
    assert reloaded == merges
    probe = spark.createDataFrame([(1, "lowest widest")], "doc_id long, text string")
    a = B.bpe_encode(probe, merges).collect()[0]
    b = B.bpe_encode(probe, reloaded).collect()[0]
    assert list(a.bpe_tokens) == list(b.bpe_tokens)


def test_bpe_load_merges_rejects_malformed(tmp_path):
    import pytest

    from tilecloud_chain_spark.operators import bpe as B

    with pytest.raises(ValueError, match="line 2"):
        B.load_merges(["#version: 0.2", "a b c"])


def test_bpe_load_merges_hash_left_token(tmp_path):
    """Only the FIRST line's '#version' prefix is a header: published merge
    tables contain pairs whose left token starts with '#' (e.g. '# #'
    building a '##' token) — those must load, not be dropped as comments."""
    from tilecloud_chain_spark.operators import bpe as B

    merges = B.load_merges(["#version: 0.2", "# #", "a b"])
    assert merges == [("#", "#"), ("a", "b")]
    # round-trip: a trained table with a '#' left token survives
    assert B.load_merges(B.merges_to_lines(merges)) == merges


# --------------------------------------------------------------------------
# byte-level (GPT-2 convention) encoder
# --------------------------------------------------------------------------


def _gpt2_style_table():
    """A hand-built 50-merge byte-level merges.txt in the published GPT-2
    format (version header, Ġ space-prefix convention, rank order): the
    first ranks mirror the real GPT-2 table's opening pattern; every probe
    pin below is derived BY HAND from rank-greedy application."""
    pairs = [
        "Ġ t", "h e", "Ġt he", "Ġ c", "a t",          # ranks 0-4
        "Ġc at", "Ġ s", "Ġs at", "i s", "is n",       # ranks 5-9
        "b c", "a b",                                  # ranks 10-11: rank trap
        # filler ranks 12+: plausible English pairs, none adjacent in probes
        "Ġ a", "Ġ o", "Ġ w", "Ġ b", "Ġ f", "Ġ m", "Ġ d", "Ġ p", "Ġ l",
        "e r", "e n", "e d", "o r", "o u", "o n", "a n", "an d", "Ġa n",
        "Ġan d", "n g", "i ng", "o w", "l e", "l y", "s e", "s t", "c h",
        "s h", "t r", "w h", "r o", "r a", "u r", "u n", "o m", "u t",
        "i l", "i r",
    ]
    return ["#version: 0.2"] + pairs


def test_bytes_to_unicode_pins():
    """The public GPT-2 byte-alias table: a 256-entry bijection where
    printable latin bytes alias to themselves and the well-known markers
    land exactly where every published merges.txt shows them."""
    from tilecloud_chain_spark.operators import bpe as B

    t = B.bytes_to_unicode()
    assert len(t) == 256 and len(set(t.values())) == 256
    assert t[ord(" ")] == "Ġ"   # Ġ — the space-prefix marker
    assert t[ord("\n")] == "Ċ"  # Ċ
    assert t[ord("A")] == "A" and t[ord("~")] == "~"
    assert t[0xC3] == "\xc3" and t[0xA9] == "\xa9"  # self-alias high bytes


def test_bpe_encode_bytes_reproduces_published_table(spark, tmp_path):
    """Byte-level encode of a published-format table: exact hand-derived
    tokenizations, including the conventions the word-level encoder cannot
    express — case preserved, space attached to the following word (Ġ),
    contractions split by the pre-tokenizer, rank-greedy (never
    left-to-right) merge order, multibyte UTF-8 as byte aliases."""
    from tilecloud_chain_spark.operators import bpe as B

    p = tmp_path / "merges.txt"
    p.write_text("\n".join(_gpt2_style_table()))
    merges = B.load_merges(str(p))
    assert len(merges) == 50 and merges[0] == ("Ġ", "t")

    probes = [
        # sentence-initial 'the' has no Ġ: stays t+he; ' cat'/' sat' hit
        # their Ġ-prefixed merges (at merges before Ġs — rank-greedy)
        (1, "the cat sat", ["t", "he", "Ġcat", "Ġsat"]),
        # capital preserved: 'The' is NOT 'the'
        (2, "The", ["T", "he"]),
        # contraction split by the pre-tokenizer: isn + 't
        (3, "isn't", ["isn", "'", "t"]),
        # rank-greedy trap: (b,c) rank 10 beats (a,b) rank 11
        (4, "abc", ["a", "bc"]),
        # multibyte UTF-8: é = 0xC3 0xA9 aliases; (Ġ,c) merges, (Ġc,a) has
        # no rule without 'at'
        (5, "a café", ["a", "Ġc", "a", "f", "\xc3", "\xa9"]),
        # numbers split from punctuation; newline aliases to Ċ
        (6, "v2.0\n", ["v", "2", ".", "0", "Ċ"]),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s, _ in probes], "doc_id long, text string"
    )
    got = {r["doc_id"]: list(r["bpe_tokens"])
           for r in B.bpe_encode_bytes(df, merges).collect()}
    for i, _, want in probes:
        assert got[i] == want, (i, got[i], want)


def test_bpe_encode_bytes_lossless_roundtrip(spark):
    """Byte-level BPE is lossless by construction: decoding the token
    aliases recovers the input byte-exactly for arbitrary unicode."""
    from tilecloud_chain_spark.operators import bpe as B

    texts = [
        "plain ascii",
        "tabs\tand\nnewlines  doubled",
        "café naïve über",
        "日本語 한국어",
        "emoji \U0001f99c ok",
        "'s 't 're trailing ",
    ]
    merges = B.load_merges(_gpt2_style_table())
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = B.bpe_encode_bytes(df, merges).collect()
    for r in rows:
        assert B.byte_alias_decode(list(r["bpe_tokens"])) == texts[r["doc_id"]]
        assert r["n_bpe_tokens"] == len(r["bpe_tokens"])
