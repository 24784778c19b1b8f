"""Bytes-first crawl ingestion (operators/warc.py): WARC framing, the
WHATWG charset-precedence chain, the UTF-8 mislabel rescue, and the
one-Arrow-stage Spark operator composed into the downstream text
pipeline."""

import pytest
from pyspark.sql import functions as F

from tilecloud_chain_spark.operators import warc as W


def _record(payload: bytes, ct: str = "text/html",
            uri: str = "https://example.com/x",
            warc_type: str = "response") -> bytes:
    block = (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ct.encode() + b"\r\n\r\n"
        + payload
    ) if warc_type == "response" else payload
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: " + warc_type.encode() + b"\r\n"
        b"WARC-Target-URI: " + uri.encode() + b"\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Length: " + str(len(block)).encode() + b"\r\n\r\n"
    )
    return head + block + b"\r\n\r\n"


# -- framing -----------------------------------------------------------------

def test_split_multiple_records_and_http_peel():
    buf = (_record(b"<p>one</p>") + _record(b"<p>two</p>", uri="https://e/y")
           + _record(b'{"k": 1}', ct="application/json"))
    recs = W.split_warc_records(buf)
    assert [r["payload"] for r in recs] == [
        b"<p>one</p>", b"<p>two</p>", b'{"k": 1}',
    ]
    assert recs[0]["http_status"] == 200
    assert recs[0]["http_content_type"] == "text/html"
    assert recs[1]["target_uri"] == "https://e/y"
    assert not any(r["truncated"] for r in recs)


def test_split_payload_containing_warc_magic():
    # length-headed walking: a page QUOTING the record magic must not
    # desync the framing
    evil = b"<pre>\nWARC/1.0\nContent-Length: 9999\n</pre>"
    buf = _record(evil) + _record(b"<p>after</p>")
    recs = W.split_warc_records(buf)
    assert len(recs) == 2
    assert recs[0]["payload"] == evil
    assert recs[1]["payload"] == b"<p>after</p>"


def test_split_truncated_tail_and_resync():
    good = _record(b"<p>ok</p>")
    # truncated: Content-Length says 50 but only a few bytes follow
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 50\r\n\r\n"
           b"HTTP/1.1 200 OK\r\n\r\nshort")
    recs = W.split_warc_records(bad + b"\r\n\r\n" + good)
    assert len(recs) == 2
    assert recs[0]["truncated"] and not recs[1]["truncated"]
    assert recs[1]["payload"] == b"<p>ok</p>"
    # non-response records pass payload through unpeeled
    meta = _record(b"software: crawler", warc_type="warcinfo")
    (r,) = W.split_warc_records(meta)
    assert r["warc_type"] == "warcinfo" and r["payload"] == b"software: crawler"
    assert r["http_status"] is None


# -- charset sniffing ---------------------------------------------------------

def test_sniff_precedence_chain():
    utf8 = "café".encode("utf-8")
    cp = "café".encode("windows-1252")
    # (a) BOM beats a wrong header declaration
    assert W.sniff_charset(b"\xef\xbb\xbf" + utf8, "windows-1252") == (
        "windows-1252", "utf-8-sig")
    # (b) header declaration
    assert W.sniff_charset(cp, "windows-1252") == (
        "windows-1252", "windows-1252")
    assert W.sniff_charset(utf8, "UTF-8") == ("utf-8", "utf-8")
    # (c) meta prescan when the header is silent
    meta = b'<html><head><meta charset="windows-1252"></head>' + cp
    assert W.sniff_charset(meta, None) == ("windows-1252", "windows-1252")
    meta2 = (b'<meta http-equiv="Content-Type" '
             b'content="text/html; charset=ISO-8859-1">' + cp)
    # latin-1 labels map to windows-1252 per WHATWG
    assert W.sniff_charset(meta2, None)[1] == "windows-1252"
    # (d) no declaration: strict utf-8, else windows-1252
    assert W.sniff_charset(utf8, None) == (None, "utf-8")
    assert W.sniff_charset(cp, None) == (None, "windows-1252")


def test_sniff_mislabel_rescue():
    utf8 = "résumé text".encode("utf-8")
    # declared legacy single-byte, payload genuinely multi-byte UTF-8
    assert W.sniff_charset(utf8, "windows-1252") == ("windows-1252", "utf-8")
    assert W.sniff_charset(utf8, "iso-8859-1") == ("iso-8859-1", "utf-8")
    # pure-ASCII payload: the declaration stands (rescue needs evidence)
    assert W.sniff_charset(b"plain ascii", "windows-1252") == (
        "windows-1252", "windows-1252")
    # genuinely legacy bytes: the declaration stands
    cp = "café".encode("windows-1252")
    assert W.sniff_charset(cp, "windows-1252")[1] == "windows-1252"
    # multi-byte declared charsets are never second-guessed
    sj = "日本".encode("shift_jis")
    assert W.sniff_charset(sj, "shift_jis")[1] == "shift_jis"


def test_decode_payload_replace_and_bom_strip():
    # BOM is consumed, not leaked into the text
    d, u, t = W.decode_payload(b"\xef\xbb\xbf" + "café".encode(), None)
    assert (u, t) == ("utf-8", "café")
    # invalid bytes under the chosen encoding replace, never raise
    d, u, t = W.decode_payload(b"ok \xff\xfe\xfd tail", "utf-8")
    assert u == "utf-8" and "ok" in t and "tail" in t
    # unknown charset label falls through the sniff chain
    d, u, t = W.decode_payload("café".encode(), "x-user-defined")
    assert u == "utf-8" and t == "café"


# -- Spark operator -----------------------------------------------------------

def test_warc_extract_spark_and_single_arrow_stage(spark):
    utf8_doc = _record(
        "<p>résumé one long enough paragraph here.</p>".encode(),
        ct="text/html; charset=utf-8", uri="https://e/1")
    mislabeled = _record(
        "<p>résumé two long enough paragraph here.</p>".encode(),
        ct="text/html; charset=windows-1252", uri="https://e/2")
    legacy = _record(
        "<p>café three long enough paragraph here.</p>".encode(
            "windows-1252"),
        ct="text/html; charset=windows-1252", uri="https://e/3")
    df = spark.createDataFrame(
        [(1, bytearray(utf8_doc + mislabeled)), (2, bytearray(legacy))],
        "warc_id long, warc binary",
    )
    out = W.warc_extract(df)
    rows = {r.target_uri: r for r in out.collect()}
    assert rows["https://e/1"].encoding_used == "utf-8"
    assert rows["https://e/2"].encoding_declared == "windows-1252"
    assert rows["https://e/2"].encoding_used == "utf-8"  # rescued
    assert "résumé two" in rows["https://e/2"].html
    assert rows["https://e/3"].encoding_used == "windows-1252"
    assert "café three" in rows["https://e/3"].html
    assert [rows["https://e/1"].record_idx, rows["https://e/2"].record_idx] \
        == [0, 1]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan


def test_warc_composes_into_html_extract_and_langid(spark):
    from tilecloud_chain_spark.operators.html import html_extract
    from tilecloud_chain_spark.operators.langid import (
        DEMO_TRAIN, langid_ngram_udf, train_ngram_profiles,
    )

    page = (
        "<html><body><nav><a href='/'>home</a> <a href='/a'>about</a></nav>"
        "<p>the quick brown fox jumps over the lazy dog and sleeps in the "
        "garden café every single afternoon.</p></body></html>"
    )
    blob = _record(page.encode("windows-1252"),
                   ct="text/html; charset=windows-1252",
                   uri="https://e/en")
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "warc_id long, warc binary")
    recs = W.warc_extract(df)
    clean = html_extract(
        recs.withColumn("doc_id", F.col("record_idx").cast("long")),
        html_col="html",
    )
    row = clean.collect()[0]
    assert row.clean_text.startswith("the quick brown fox")
    assert "café" in row.clean_text
    assert row.n_blocks_kept == 1 and row.n_blocks_dropped == 1  # nav dropped
    profiles = train_ngram_profiles(
        spark.createDataFrame(DEMO_TRAIN, "lang string, text string"))
    lang = langid_ngram_udf(
        clean.select("doc_id", F.col("clean_text").alias("text")), profiles
    ).collect()[0]
    assert lang.lang_pred == "en"


def test_warc_feeds_corpus_admission_end_to_end(spark):
    """The full crawl front door: raw WARC bytes -> record split + charset
    decode -> corpus_admission (extract/langid/LM/quality/PII/dedup/pack).
    One mislabeled-charset page must survive with its accents intact."""
    from tilecloud_chain_spark.operators import corpus as CP
    from tilecloud_chain_spark.operators.langid import (
        DEMO_TRAIN, train_ngram_profiles,
    )
    from tilecloud_chain_spark.operators.lm import train_bigram_lm

    adj = "quick lazy sleepy hungry clever brave timid shiny".split()
    recs = []
    for i in range(12):
        body = (f"the {adj[i % 8]} fox number {i} jumps over a "
                f"{adj[(i * 3) % 8]} dog near café {(i * 5) % 19} and "
                f"rests beside stone {(i * 7) % 23} until dusk falls")
        page = f"<html><body><p>{body}</p></body></html>"
        # every 3rd page: genuine UTF-8 mislabeled as windows-1252
        ct = ("text/html; charset=windows-1252" if i % 3 == 0
              else "text/html; charset=utf-8")
        recs.append(_record(page.encode("utf-8"), ct=ct,
                            uri=f"https://e/{i}"))
    blob = b"".join(recs)
    df = spark.createDataFrame([(1, bytearray(blob))],
                               "warc_id long, warc binary")
    pages = W.warc_extract(df).select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "html", "encoding_used",
    )
    assert pages.filter("encoding_used = 'utf-8'").count() == 12  # rescued
    profiles = train_ngram_profiles(
        spark.createDataFrame(DEMO_TRAIN, "lang string, text string"))
    ext = CP.extract_stage(pages)
    lm_model = train_bigram_lm(ext.select(F.col("clean_text").alias("text")))
    out = CP.corpus_admission(
        pages.select("doc_id", "html"), profiles, lm_model,
        lm_threshold_micro=-6_000_000, chunk_tokens=32)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 12
    assert all(r.lang_pred == "en" for r in rows.values())
    adm = [r for r in rows.values() if r.admitted]
    assert adm and all(r.chunk_first is not None for r in adm)


# -- property: framing round-trip ---------------------------------------------

def test_split_roundtrip_property():
    """Hypothesis: ANY payload bytes (including embedded 'WARC/1.0' magic,
    CRLFs, and high bytes) survive build -> split exactly, for any record
    count and any mix of response/non-response records."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    payloads = st.binary(min_size=0, max_size=400)
    evil = st.sampled_from([
        b"WARC/1.0\r\n", b"\r\n\r\nWARC/", b"Content-Length: 0\r\n\r\n",
        b"\nWARC/1.0\nContent-Length: 9\n\n", b"\x00\xff\xfe",
    ])
    record_payload = st.tuples(payloads, st.lists(evil, max_size=2)).map(
        lambda t: t[0] + b"".join(t[1])
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(
        st.tuples(record_payload, st.booleans()), min_size=1, max_size=6))
    def run(recs):
        buf = b"".join(
            _record(p, uri=f"https://e/{i}",
                    warc_type="response" if is_resp else "metadata")
            for i, (p, is_resp) in enumerate(recs)
        )
        got = W.split_warc_records(buf)
        assert len(got) == len(recs)
        for i, ((p, is_resp), r) in enumerate(zip(recs, got)):
            assert r["target_uri"] == f"https://e/{i}"
            assert r["payload"] == p, (i, p, r["payload"])
            assert not r["truncated"]
            assert r["warc_type"] == ("response" if is_resp else "metadata")

    run()


def test_sniff_ascii_invariant_property():
    """Hypothesis: pure-ASCII payloads decode to the identical text under
    EVERY single-byte charset declaration (ASCII is the shared subset) —
    the invariant that makes the gate's ASCII document fixture safe."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ascii_text = st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        max_size=200)

    @settings(max_examples=40, deadline=None)
    @given(ascii_text, st.sampled_from(
        [None, "utf-8", "windows-1252", "iso-8859-1", "windows-1250",
         "koi8-r", "ascii"]))
    def run(text, declared):
        d, used, out = W.decode_payload(text.encode("ascii"), declared)
        assert out == text

    run()
