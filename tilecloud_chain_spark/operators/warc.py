"""Bytes-first crawl ingestion: WARC record splitting + charset-sniffing
decode — the missing front door between "what a crawler actually emits"
(WARC files of raw bytes with a charset declared in HTTP headers or
``<meta>`` tags, or declared wrongly) and :func:`html_extract`'s clean
``html STRING`` column (r7 verdict "What's missing" #1 / task 1; no
reference counterpart — the reference ingests map tiles, not crawls).

Two kernels, fused into ONE Arrow ``mapInPandas`` stage:

1. **Record splitting** (:func:`split_warc_records`): WARC/1.0-1.1 framing
   (ISO 28500, public) is a length-headed line format — ``WARC/1.x`` +
   CRLF header lines + blank line + ``Content-Length`` payload bytes +
   CRLF CRLF. The splitter walks the byte stream record by record (never
   regex-scanning payload bytes, which may legally contain ``WARC/1.0``),
   tolerates LF-only headers and truncated tails, and for ``response``
   records peels the inner HTTP/1.x envelope (status line + headers +
   blank line) off the payload.

2. **Charset sniffing** (:func:`sniff_charset` / :func:`decode_payload`),
   WHATWG-encoding-standard precedence with the CCNet-style UTF-8 rescue:

   a. a BOM wins over everything (WHATWG: "the byte order mark takes
      precedence over any declaration");
   b. else the ``charset=`` parameter of the HTTP ``Content-Type``;
   c. else a ``<meta charset>`` / ``<meta http-equiv=Content-Type>``
      declaration inside the first 1024 payload bytes (the WHATWG
      prescan window);
   d. else strict UTF-8, falling back to windows-1252 on decode error
      (the WHATWG default for legacy content).

   Mislabel rescue (the single most common real-crawl defect): when the
   DECLARED charset is a single-byte legacy encoding but the payload is
   valid UTF-8 containing at least one multi-byte sequence, the payload
   is, beyond reasonable doubt, UTF-8 (a legacy-encoded page is valid
   UTF-8 only if pure ASCII) — decode as UTF-8 and report the disagreeing
   ``encoding_declared`` / ``encoding_used`` pair so downstream can audit.
   Without the rescue, mojibake silently corrupts shingles/langid.

Scale shape: linear in input bytes, zero shuffle, embarrassingly parallel
(one WARC blob per row; real deployments read a binaryFile/parquet table
of WARC segments and repartition by size). Python is unavoidable — byte-
level stateful framing is not expressible in Column algebra — which is
exactly the carve-out this engine reserves Arrow stages for (same as
``operators/html.py``).
"""

from __future__ import annotations

import codecs
import re

from pyspark.sql import DataFrame

from tilecloud_chain_spark.session import ensure_parallelism as _ensure_parallelism

#: charset-label normalization (WHATWG encoding labels, the subset with a
#: stdlib codec in this environment; anything else falls to the default
#: sniff path rather than guessing)
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "x-cp1252": "windows-1252", "ansi_x3.4-1968": "windows-1252",
    "ascii": "windows-1252", "us-ascii": "windows-1252",
    # WHATWG maps latin-1 labels to windows-1252 (its superset in the
    # 0x80-0x9f range, where real content actually differs)
    "iso-8859-1": "windows-1252", "latin1": "windows-1252",
    "latin-1": "windows-1252", "l1": "windows-1252", "iso8859-1": "windows-1252",
    "iso-8859-15": "iso-8859-15", "latin9": "iso-8859-15",
    "iso-8859-2": "iso-8859-2", "latin2": "iso-8859-2",
    "windows-1250": "windows-1250", "cp1250": "windows-1250",
    "windows-1251": "windows-1251", "cp1251": "windows-1251",
    "koi8-r": "koi8-r",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis", "sjis": "shift_jis",
    "euc-jp": "euc-jp", "gbk": "gbk", "gb2312": "gbk", "big5": "big5",
}

#: single-byte legacy encodings eligible for the UTF-8 mislabel rescue
_SINGLE_BYTE = frozenset(
    "windows-1252 windows-1250 windows-1251 iso-8859-15 iso-8859-2 koi8-r".split()
)

_META_RE = re.compile(
    rb"""<meta\s+[^>]*?charset\s*=\s*["']?\s*([a-zA-Z0-9._:-]+)""",
    re.IGNORECASE,
)
_CT_CHARSET_RE = re.compile(r"charset\s*=\s*\"?'?\s*([a-zA-Z0-9._:-]+)", re.I)


def _normalize_label(label: str | None) -> str | None:
    if not label:
        return None
    return _CHARSET_ALIASES.get(label.strip().strip("\"'").lower())


def sniff_charset(payload: bytes, declared: str | None) -> tuple[str | None, str]:
    """(encoding_declared, encoding_used) per the WHATWG precedence chain
    documented in the module docstring. ``declared`` is the raw charset
    label from the HTTP Content-Type (or None)."""
    declared_norm = _normalize_label(declared)
    declared_out = declared.strip().lower() if declared else None
    # (a) BOM beats any declaration
    if payload.startswith(codecs.BOM_UTF8):
        return declared_out, "utf-8-sig"
    if payload.startswith(codecs.BOM_UTF16_LE) or payload.startswith(
        codecs.BOM_UTF16_BE
    ):
        return declared_out, "utf-16"  # stdlib utf-16 consumes the BOM
    # (b) HTTP header, (c) meta prescan within the first 1024 bytes
    used = declared_norm
    if used is None:
        m = _META_RE.search(payload[:1024])
        if m:
            used = _normalize_label(m.group(1).decode("ascii", "ignore"))
            if declared_out is None and m:
                declared_out = m.group(1).decode("ascii", "ignore").lower()
    # mislabel rescue: declared single-byte but payload is genuine UTF-8
    if used in _SINGLE_BYTE:
        try:
            payload.decode("utf-8", "strict")
            if any(b >= 0x80 for b in payload):
                return declared_out, "utf-8"
        except UnicodeDecodeError:
            pass
        return declared_out, used
    if used is not None:
        return declared_out, used
    # (d) no usable declaration: strict UTF-8, else windows-1252
    try:
        payload.decode("utf-8", "strict")
        return declared_out, "utf-8"
    except UnicodeDecodeError:
        return declared_out, "windows-1252"


def decode_payload(payload: bytes, declared: str | None) -> tuple[str | None, str, str]:
    """(encoding_declared, encoding_used, text). Decode errors under the
    chosen encoding replace (never raise): a wrong declaration must not
    kill a 100 TB ingest over one page."""
    declared_out, used = sniff_charset(payload, declared)
    text = payload.decode(used, "replace")
    # report the canonical name, not the BOM-consuming codec variant
    return declared_out, ("utf-8" if used == "utf-8-sig" else used), text


def _split_header_block(buf: bytes, pos: int) -> tuple[dict, int]:
    """Parse one CRLF(-or-LF)-terminated header block starting at ``pos``;
    returns ({lowercase name: value}, offset just past the blank line)."""
    headers: dict[str, str] = {}
    n = len(buf)
    while pos < n:
        eol = buf.find(b"\n", pos)
        if eol < 0:
            pos = n
            break
        line = buf[pos:eol].rstrip(b"\r")
        pos = eol + 1
        if not line:
            break
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower().decode("latin-1")] = (
                v.strip().decode("latin-1")
            )
    return headers, pos


def _terminator_ok(buf: bytes, end: int) -> bool:
    """True iff ``end`` sits on a legal record boundary: newline padding
    followed by EOF or the next ``WARC/`` magic."""
    i, n = end, len(buf)
    while i < n and buf[i : i + 1] in (b"\r", b"\n"):
        i += 1
    return i >= n or (i > end and buf.startswith(b"WARC/", i))


def split_warc_records(buf: bytes) -> list[dict]:
    """Split one WARC blob into records (pure-Python kernel; driven per
    batch inside the Arrow stage). Each record dict carries the WARC
    headers of interest, the inner HTTP status/Content-Type for response
    records, and the raw payload bytes. Length-headed walking — payload
    bytes are never scanned for the magic, so a page quoting ``WARC/1.0``
    cannot desync the framing; a corrupt Content-Length resyncs at the
    next ``\\nWARC/`` occurrence (loudly marked ``truncated``)."""
    out: list[dict] = []
    pos, n = 0, len(buf)
    while pos < n:
        # tolerate inter-record padding / leading newlines
        while pos < n and buf[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        if not buf.startswith(b"WARC/", pos):
            nxt = buf.find(b"\nWARC/", pos)
            if nxt < 0:
                break
            pos = nxt + 1
        headers, body_start = _split_header_block(buf, pos)
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            clen = -1
        truncated = False
        end = body_start + clen
        # a record must be followed by CRLF CRLF then EOF or the next
        # magic — a declared length that lands anywhere else is corrupt
        # (it would silently swallow the next record's header otherwise)
        ok = clen >= 0 and end <= n and _terminator_ok(buf, end)
        if not ok:
            # corrupt or truncated: take bytes up to the next record magic
            nxt = buf.find(b"\nWARC/", body_start)
            body_end = n if nxt < 0 else nxt + 1
            truncated = True
            block = buf[body_start:body_end].rstrip(b"\r\n")
            pos = body_end
        else:
            block = buf[body_start:end]
            pos = end
        rec: dict = {
            "warc_type": headers.get("warc-type", ""),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "record_id": headers.get("warc-record-id"),
            "truncated": truncated,
            "http_status": None,
            "http_content_type": None,
            "payload": block,
        }
        if rec["warc_type"] == "response" and block[:5] in (b"HTTP/",):
            line_end = block.find(b"\n")
            status_line = block[: max(line_end, 0)].rstrip(b"\r")
            parts = status_line.split(b" ", 2)
            if len(parts) >= 2 and parts[1].isdigit():
                rec["http_status"] = int(parts[1])
            http_headers, payload_start = _split_header_block(
                block, line_end + 1 if line_end >= 0 else len(block)
            )
            rec["http_content_type"] = http_headers.get("content-type")
            rec["payload"] = block[payload_start:]
        out.append(rec)
    return out


def warc_extract(
    df: DataFrame,
    warc_col: str = "warc",
    id_col: str = "warc_id",
) -> DataFrame:
    """One Arrow stage: WARC blobs -> one row per record with the decoded
    ``html`` string column that :func:`~tilecloud_chain_spark.operators.
    html.html_extract` (and langid / lm_quality / every dedup axis behind
    it) consumes. Output: (id_col, record_idx, warc_type, target_uri,
    warc_date, http_status, content_type, encoding_declared,
    encoding_used, truncated, html)."""
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]

    def run(batches):
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in (
                id_col, "record_idx", "warc_type", "target_uri", "warc_date",
                "http_status", "content_type", "encoding_declared",
                "encoding_used", "truncated", "html",
            )}
            for wid, blob in zip(pdf[id_col], pdf[warc_col]):
                data = bytes(blob) if blob is not None else b""
                for i, rec in enumerate(split_warc_records(data)):
                    ct = rec["http_content_type"]
                    m = _CT_CHARSET_RE.search(ct) if ct else None
                    declared, used, text = decode_payload(
                        rec["payload"], m.group(1) if m else None
                    )
                    rows[id_col].append(wid)
                    rows["record_idx"].append(i)
                    rows["warc_type"].append(rec["warc_type"])
                    rows["target_uri"].append(rec["target_uri"])
                    rows["warc_date"].append(rec["warc_date"])
                    rows["http_status"].append(rec["http_status"])
                    rows["content_type"].append(ct)
                    rows["encoding_declared"].append(declared)
                    rows["encoding_used"].append(used)
                    rows["truncated"].append(rec["truncated"])
                    rows["html"].append(text)
            out = pd.DataFrame(rows)
            out["record_idx"] = out["record_idx"].astype("int32")
            out["http_status"] = out["http_status"].astype("Int32")
            yield out

    src = _ensure_parallelism(df.select(id_col, warc_col))
    return src.mapInPandas(
        run,
        f"{id_col} {id_type}, record_idx int, warc_type string, "
        "target_uri string, warc_date string, http_status int, "
        "content_type string, encoding_declared string, "
        "encoding_used string, truncated boolean, html string",
    )
