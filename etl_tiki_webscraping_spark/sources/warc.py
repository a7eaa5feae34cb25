"""WARC (Web ARChive, ISO 28500) record scan — the crawl-native
SOURCE format (round-14, HTTP realism round-15).  A 100 TB pretraining
pipeline's raw input is almost always WARC: Common-Crawl-style
archives of per-fetch records, usually gzip-compressed PER RECORD so
members are independently seekable.  This module turns a binary WARC
(or .warc.gz) blob column into typed per-record rows — the 1->N
expansion every downstream text operator (extraction, language id,
dedup) consumes.

Everything is stdlib from the public layout:

- a record = a header block of CRLF-terminated lines ("WARC/1.0",
  then "Name: value" fields), a blank line, exactly Content-Length
  payload bytes, and the record separator CRLF CRLF;
- required fields: WARC-Type, WARC-Record-ID, WARC-Date,
  Content-Length (ISO 28500 §5);
- .warc.gz = concatenated gzip MEMBERS, one record each, walked with
  ``zlib.decompressobj(wbits=31)`` + the unused_data loop;
- response records carry an HTTP message as payload; round-15 decodes
  it for real: ``Transfer-Encoding: chunked`` framing (RFC 9112 §7.1),
  ``Content-Encoding: gzip/deflate`` bodies (stdlib zlib), and charset
  selection from the Content-Type parameter with BOM and
  ``<meta charset>`` fallbacks — the majority shape of real crawl
  responses, which previously reached the text stack as mojibake or
  chunk-framing garbage.

STRICT (the GIF truncation rule): version line must be WARC/0.x-1.x,
Content-Length must parse and fit, the separator must follow each
payload, gzip members must decompress cleanly and tile the file —
else the FILE quarantines (one record_idx = -1 row keeps the loss
observable; a half-written archive should never be half-ingested).
HTTP-body malformations quarantine at ROW granularity instead: the
archive framing is intact, so sibling responses stay usable, and the
row carries ``http_encoding = 'bad_*'`` with a NULL body — never a
silently truncated body.

Scale shape: ONE Arrow-batched 1->N mapInPandas pass per file blob —
each archive is parsed exactly once (validation and payload capture
share the walk; the round-14 double-parse is gone), files never
shuffle, and each task expands only its own partition's files (the
mapInPandas fan-out caveat applies downstream: size joins over the
exploded records explicitly).
"""

from __future__ import annotations

import re
import zlib
from hashlib import md5 as _md5

_REQUIRED = ("WARC-Type", "WARC-Record-ID", "WARC-Date", "Content-Length")


def split_gzip_members(data: bytes) -> "list[bytes] | None":
    """Decompress concatenated gzip members (the .warc.gz layout):
    [member_bytes, ...] or None when any member is corrupt or trailing
    garbage remains."""
    if not data:
        return None
    out: "list[bytes]" = []
    rest = data
    while rest:
        if rest[:2] != b"\x1f\x8b":
            return None
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(rest)
        except zlib.error:
            return None
        if not d.eof:
            return None  # truncated member
        out.append(chunk)
        rest = d.unused_data
    return out


def _parse_http_head(payload: bytes) -> "tuple[int | None, dict, bytes | None]":
    """Split an HTTP/1.x message into (status, headers, body_bytes).
    Header names lowercase, first occurrence wins, values decoded
    leniently (ascii/replace — real crawl headers carry arbitrary
    bytes and must never crash the task).  body_bytes is None when the
    message has no blank-line terminator."""
    parts = payload.split(b"\r\n\r\n", 1)
    hlines = parts[0].split(b"\r\n")
    status = None
    sl = hlines[0].split(b" ")
    if len(sl) >= 2 and sl[1].isdigit():
        status = int(sl[1])
    headers: "dict[str, str]" = {}
    for hl in hlines[1:]:
        if b":" not in hl:
            continue
        k, v = hl.split(b":", 1)
        key = k.strip().decode("ascii", "replace").lower()
        if key not in headers:
            headers[key] = v.strip().decode("ascii", "replace")
    return status, headers, (parts[1] if len(parts) == 2 else None)


def parse_warc_records(
    data: bytes, include_payload: bool = False
) -> "list[dict] | None":
    """Parse an UNCOMPRESSED WARC file into per-record dicts
    ``{warc_type, record_id, date, content_length, target_uri,
    http_status, http_content_type, payload_digest}`` or None on any
    malformation (strict tiling — see module docstring).  With
    ``include_payload`` each dict also carries the raw ``payload``
    bytes, so callers that need bodies share this single validated
    walk instead of re-parsing."""
    if not data or not data.startswith(b"WARC/"):
        return None
    out: "list[dict]" = []
    pos = 0
    n = len(data)
    while pos < n:
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            return None
        lines = data[pos:hdr_end].split(b"\r\n")
        if not lines[0].startswith(b"WARC/") or lines[0][5:6] not in b"01":
            return None
        fields: "dict[str, str]" = {}
        for line in lines[1:]:
            if b":" not in line:
                return None
            k, v = line.split(b":", 1)
            fields[k.strip().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace")
            )
        if any(r not in fields for r in _REQUIRED):
            return None
        try:
            clen = int(fields["Content-Length"])
        except ValueError:
            return None
        body_start = hdr_end + 4
        body_end = body_start + clen
        if clen < 0 or body_end + 4 > n:
            return None
        if data[body_end : body_end + 4] != b"\r\n\r\n":
            return None
        payload = data[body_start:body_end]
        status = ctype = None
        if fields["WARC-Type"] == "response" and payload[:5] == b"HTTP/":
            status, headers, _body = _parse_http_head(payload)
            ctype = headers.get("content-type")
        rec = {
            "warc_type": fields["WARC-Type"],
            "record_id": fields["WARC-Record-ID"],
            "date": fields["WARC-Date"],
            "content_length": clen,
            "target_uri": fields.get("WARC-Target-URI"),
            "http_status": status,
            "http_content_type": ctype,
            "payload_digest": _md5(payload).hexdigest(),
        }
        if include_payload:
            rec["payload"] = payload
        out.append(rec)
        pos = body_end + 4
    return out or None


def parse_warc_file(
    data: bytes, include_payload: bool = False
) -> "list[dict] | None":
    """Uncompressed or per-record-gzip WARC: dispatch on magic."""
    if not data:
        return None
    if data[:2] == b"\x1f\x8b":
        members = split_gzip_members(data)
        if members is None:
            return None
        out: "list[dict]" = []
        for m in members:
            recs = parse_warc_records(m, include_payload=include_payload)
            if recs is None or len(recs) != 1:
                return None  # .warc.gz contract: one record per member
            out.extend(recs)
        return out or None
    return parse_warc_records(data, include_payload=include_payload)


# --------------------------------------------------------------------------
# HTTP body decoding (round-15): dechunk -> decompress -> charset
# --------------------------------------------------------------------------

_CHARSET_PARAM_RE = re.compile(r'(?i);\s*charset\s*=\s*"?([A-Za-z0-9_.:+-]+)"?')
_META_CHARSET_RE = re.compile(
    rb'(?i)<meta[^>]+charset\s*=\s*["\']?([A-Za-z0-9_.:+-]+)'
)
# codec names this stack commits to (a crawl tier beyond these routes
# to a specialist transcoder, not a silent mojibake decode)
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8", "us-ascii": "ascii",
    "ascii": "ascii", "iso-8859-1": "latin-1", "latin-1": "latin-1",
    "latin1": "latin-1", "iso8859-1": "latin-1", "windows-1252": "cp1252",
    "cp1252": "cp1252", "utf-16": "utf-16", "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
}


def _dechunk(body: bytes) -> "bytes | None":
    """Reassemble RFC 9112 §7.1 chunked framing: hex size line
    (extensions after ';' ignored), CRLF, data, CRLF, ... terminated by
    a 0-size chunk (trailer section ignored through its blank line).
    None on ANY framing violation — bad hex, short data, missing CRLF,
    or a missing terminal chunk (a truncated transfer must quarantine,
    never pass as a silently shorter body)."""
    out = bytearray()
    pos = 0
    n = len(body)
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            return None
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        # strict hex token: int(tok, 16) also accepts '-', '+', '0x'
        # and '_' — a negative size rewinds pos and loops FOREVER on
        # crafted input (ADVICE r15: a hang defeats the quarantine
        # design; a task must never spin on untrusted payload bytes)
        if not re.fullmatch(rb"[0-9A-Fa-f]{1,16}", size_tok):
            return None
        size = int(size_tok, 16)
        pos = eol + 2
        if size == 0:
            return bytes(out)  # trailers (if any) are ignored
        if pos + size + 2 > n:
            return None
        out += body[pos : pos + size]
        if body[pos + size : pos + size + 2] != b"\r\n":
            return None
        pos += size + 2


def _decompress_ce(body: bytes, coding: str) -> "bytes | None":
    """Apply one Content-Encoding coding; None on corruption or
    trailing garbage (strict: a half-gzip body must quarantine)."""
    if coding in ("identity", ""):
        return body
    if coding in ("gzip", "x-gzip"):
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(body)
        except zlib.error:
            return None
        return out if d.eof and not d.unused_data else None
    if coding == "deflate":
        # RFC says zlib-wrapped; real servers often send raw deflate —
        # try the wrapper first, fall back to raw
        for wbits in (15, -15):
            d = zlib.decompressobj(wbits=wbits)
            try:
                out = d.decompress(body)
            except zlib.error:
                continue
            if d.eof and not d.unused_data:
                return out
        return None
    return None  # unknown coding


def _pick_charset(content_type: "str | None", body: bytes) -> "str | None":
    """Charset selection order: Content-Type parameter, then BOM, then
    a ``<meta charset>`` scan of the first 1024 bytes, else utf-8.
    None for an unsupported label (routes to quarantine rather than
    guessing)."""
    if content_type:
        m = _CHARSET_PARAM_RE.search(content_type)
        if m:
            return _CHARSET_ALIASES.get(m.group(1).lower())
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8"
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"
    m = _META_CHARSET_RE.search(body[:1024])
    if m:
        return _CHARSET_ALIASES.get(m.group(1).decode("ascii").lower())
    return "utf-8"


def decode_http_response(payload: bytes) -> "dict":
    """Full HTTP/1.x response decode: status + headers, chunked
    de-framing, content-decoding, charset decode.  Returns
    ``{http_status, http_content_type, body, body_bytes,
    http_encoding, charset}`` where http_encoding names the applied
    framing chain ('identity', 'chunked', 'gzip', 'chunked+gzip',
    'deflate', ...) or a quarantine class ('not_http', 'no_body',
    'bad_chunked', 'bad_content_encoding', 'bad_charset') with
    body = None.  ``body_bytes`` is the framing-decoded but
    charset-UNdecoded payload — the form binary media (PDF, images)
    must flow through; it survives a 'bad_charset' verdict (the bytes
    are fine, only the text decode is refused)."""
    rec = {
        "http_status": None, "http_content_type": None,
        "body": None, "body_bytes": None,
        "http_encoding": None, "charset": None,
    }
    if payload[:5] != b"HTTP/":
        rec["http_encoding"] = "not_http"
        return rec
    status, headers, body = _parse_http_head(payload)
    rec["http_status"] = status
    rec["http_content_type"] = headers.get("content-type")
    if body is None:
        rec["http_encoding"] = "no_body"
        return rec
    chain: "list[str]" = []
    te = headers.get("transfer-encoding", "").lower()
    if "chunked" in te:
        body = _dechunk(body)
        if body is None:
            rec["http_encoding"] = "bad_chunked"
            return rec
        chain.append("chunked")
    ce = headers.get("content-encoding", "").lower().strip()
    if ce and ce != "identity":
        body = _decompress_ce(body, ce)
        if body is None:
            rec["http_encoding"] = "bad_content_encoding"
            return rec
        chain.append(ce)
    rec["body_bytes"] = body
    rec["http_encoding"] = "+".join(chain) if chain else "identity"
    charset = _pick_charset(rec["http_content_type"], body)
    if charset is None:
        rec["http_encoding"] = "bad_charset"
        return rec
    rec["body"] = body.decode(charset, "replace")
    rec["charset"] = charset
    return rec


# --------------------------------------------------------------------------
# fixture writer
# --------------------------------------------------------------------------


def _record(warc_type: str, record_id: str, date: str, payload: bytes,
            target_uri: "str | None" = None) -> bytes:
    lines = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: " + record_id.encode(),
        b"WARC-Date: " + date.encode(),
    ]
    if target_uri is not None:
        lines.append(b"WARC-Target-URI: " + target_uri.encode())
    lines.append(b"Content-Length: " + str(len(payload)).encode())
    return b"\r\n".join(lines) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def warc_fixture_html(file_id: int, page: int) -> str:
    """The deterministic HTML body used by ``encode_warc(...,
    html_bodies=True)`` — script content to strip, an entity to
    decode, a comment to drop, all replayable from (file_id, page)
    arithmetic so the catalog oracle can rebuild the EXACT raw string
    and push it through html_to_text_sql."""
    return (
        f"<html><head><title>Site {file_id % 97} page {page}</title>"
        f"<script>var x = {file_id};</script></head>"
        f"<body><h1>Doc {file_id}&nbsp;{page}</h1>"
        f"<p>alpha beta tok{(file_id + page) % 50} gamma</p>"
        f"<!-- hidden {file_id} --></body></html>"
    )


def warc_fixture_text(file_id: int, page: int) -> str:
    """Deterministic body text for the HTTP-decoding fixture — carries
    a non-ASCII char (é) so charset handling is observable, replayable
    from (file_id, page) arithmetic."""
    return f"café doc {file_id} page {page} tok{(file_id + page) % 50}"


def _chunk(body: bytes, truncate: bool = False) -> bytes:
    """RFC 9112 chunked framing: split at byte 5 (or one chunk when
    shorter); ``truncate`` drops the terminal 0-chunk + trailing CRLFs
    for the bad-framing case."""
    pieces = [body[:5], body[5:]] if len(body) > 5 else [body]
    out = b"".join(
        b"%x\r\n" % len(p) + p + b"\r\n" for p in pieces if p
    )
    return out if truncate else out + b"0\r\n\r\n"


def _gzip_bytes(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(data) + co.flush()


def encode_http_response(file_id: int, page: int) -> bytes:
    """One HTTP/1.1 response message for ``encode_warc(...,
    http_modes=True)`` — the framing mode cycles on
    ``(file_id + page) % 6`` so every decode path is exercised:

    0. identity utf-8 (charset from the default);
    1. ``Transfer-Encoding: chunked``;
    2. ``Content-Encoding: gzip``;
    3. chunked + gzip (decode order: dechunk THEN gunzip);
    4. latin-1 — charset via the Content-Type parameter on even
       file_id, via a ``<meta charset>`` body tag on odd;
    5. TRUNCATED chunked framing (missing terminal chunk) — must
       quarantine as ``bad_chunked`` with a NULL body.
    """
    mode = (file_id + page) % 6
    text = warc_fixture_text(file_id, page)
    ctype = "text/html"
    headers: "list[str]" = []
    if mode == 4:
        if file_id % 2 == 0:
            ctype = "text/html; charset=iso-8859-1"
            raw = text.encode("latin-1")
        else:
            raw = (f'<meta charset="iso-8859-1">{text}').encode("latin-1")
    else:
        raw = text.encode("utf-8")
    if mode == 2 or mode == 3:
        raw = _gzip_bytes(raw)
        headers.append("Content-Encoding: gzip")
    if mode in (1, 3, 5):
        raw = _chunk(raw, truncate=mode == 5)
        headers.append("Transfer-Encoding: chunked")
    else:
        headers.append(f"Content-Length: {len(raw)}")
    head = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
        + "\r\n".join(headers) + "\r\n\r\n"
    ).encode()
    return head + raw


def encode_mixed_response(file_id: int, page: int) -> bytes:
    """One HTTP/1.1 response whose body TYPE cycles on ``page % 3``
    for the content-routing fixture: HTML (identity utf-8),
    application/pdf carrying a REAL :mod:`..operators.pdfmeta`
    fixture built from ``file_id + page`` arithmetic, and GZIPPED
    HTML (framing and routing must compose)."""
    kind = page % 3
    if kind == 1:
        from etl_tiki_webscraping_spark.operators.pdfmeta import (
            encode_pdf_fixture,
        )

        raw = encode_pdf_fixture(file_id + page)
        ctype = "application/pdf"
        headers = [f"Content-Length: {len(raw)}"]
    else:
        raw = warc_fixture_html(file_id, page).encode()
        ctype = "text/html"
        if kind == 2:
            raw = _gzip_bytes(raw)
            headers = ["Content-Encoding: gzip", f"Content-Length: {len(raw)}"]
        else:
            headers = [f"Content-Length: {len(raw)}"]
    head = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
        + "\r\n".join(headers) + "\r\n\r\n"
    ).encode()
    return head + raw


def encode_warc(
    file_id: int,
    n_pages: int,
    gzip_per_record: bool = False,
    truncate: int = 0,
    seed: int = 0,
    html_bodies: bool = False,
    http_modes: bool = False,
    mixed_bodies: bool = False,
) -> bytes:
    """Fixture writer: a warcinfo record followed by ``n_pages``
    request/response pairs with doc-arithmetic URIs, HTTP status
    ``200 + 4 * (page % 2 == 1)`` (200/204 alternating), text/html
    content-type, and md5-derived bodies of ``100 + (file_id + page)
    % 64`` bytes — every field the scan extracts is replayable from
    (file_id, page) arithmetic.  ``gzip_per_record`` emits the
    .warc.gz one-member-per-record layout; ``truncate`` drops trailing
    bytes for the strict-rejection case; ``http_modes`` swaps the
    response payloads for :func:`encode_http_response`'s framing
    cycle (chunked / gzipped / latin-1 / truncated-chunk)."""
    date = "2026-01-01T00:00:00Z"
    recs: "list[bytes]" = [
        _record(
            "warcinfo", f"<urn:uuid:{file_id:08d}-0>", date,
            b"software: fixture\r\n",
        )
    ]
    for page in range(n_pages):
        uri = f"https://example.org/site{file_id % 97}/page{page}"
        recs.append(_record(
            "request", f"<urn:uuid:{file_id:08d}-{2 * page + 1}>", date,
            f"GET /site{file_id % 97}/page{page} HTTP/1.1\r\n"
            f"Host: example.org\r\n".encode(),
            target_uri=uri,
        ))
        if mixed_bodies:
            http = encode_mixed_response(file_id, page)
        elif http_modes:
            http = encode_http_response(file_id, page)
        else:
            if html_bodies:
                body = warc_fixture_html(file_id, page).encode()
                body_len = len(body)
            else:
                body_len = 100 + (file_id + page) % 64
                body = b"".join(
                    _md5(f"warc:{seed}:{file_id}:{page}:{i}".encode()).digest()
                    for i in range(body_len // 16 + 1)
                )[:body_len]
            status = 200 + 4 * (page % 2)
            http = (
                f"HTTP/1.1 {status} OK\r\n"
                f"Content-Type: text/html\r\n"
                f"Content-Length: {body_len}\r\n\r\n"
            ).encode() + body
        recs.append(_record(
            "response", f"<urn:uuid:{file_id:08d}-{2 * page + 2}>", date,
            http, target_uri=uri,
        ))
    if gzip_per_record:
        out = b"".join(_gzip_member(r) for r in recs)
    else:
        out = b"".join(recs)
    return out[: len(out) - truncate] if truncate else out


def _gzip_member(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(data) + co.flush()


WARC_SCAN_SCHEMA = (
    "file_id bigint, record_idx int, warc_type string, "
    "target_uri string, content_length bigint, http_status int, "
    "http_content_type string"
)


def scan_warc_records(df, id_col="file_id", content_col="content"):
    """1->N record expansion over WARC file blobs in one Arrow-batched
    mapInPandas pass: each clean file yields one row per record; a
    file the strict parse rejects yields the single record_idx = -1
    quarantine row (a half-written archive is never half-ingested).
    Files never shuffle; downstream joins over the exploded records
    must size themselves explicitly (Catalyst cannot see the fan-out).
    """
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        recs = parse_warc_file(data)
        if recs is None:
            yield {"record_idx": -1}
            return
        for i, r in enumerate(recs):
            yield {
                "record_idx": i,
                "warc_type": r["warc_type"],
                "target_uri": r["target_uri"],
                "content_length": r["content_length"],
                "http_status": r["http_status"],
                "http_content_type": r["http_content_type"],
            }

    return map_blobs(df, id_col, content_col, WARC_SCAN_SCHEMA, rows)


WARC_RESPONSE_SCHEMA = (
    "file_id bigint, page int, target_uri string, http_status int, "
    "http_content_type string, body string, http_encoding string, "
    "charset string"
)


def scan_warc_responses(df, id_col="file_id", content_col="content"):
    """Response-record expansion WITH decoded bodies: each clean
    archive yields one row per ``response`` record carrying the HTTP
    payload body after chunked de-framing, content-decoding, and
    charset decode (:func:`decode_http_response`) — the form the text
    stack (HTML extraction, language id, dedup) consumes directly.
    ``http_encoding`` names the applied framing chain or the
    per-row quarantine class (bad_chunked / bad_content_encoding /
    bad_charset — the archive stays usable, the loss stays
    observable).  Archive-level strictness is identical to
    :func:`scan_warc_records` (a rejected file emits one page = -1
    row).  Each archive is parsed exactly ONCE — validation and
    payload capture share ``parse_warc_file(include_payload=True)``.
    Page numbering follows the fixture convention: response record
    2p+2 is page p."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        recs = (
            parse_warc_file(data, include_payload=True)
            if data is not None else None
        )
        if recs is None:
            yield {"page": -1}
            return
        responses = (r for r in recs if r["warc_type"] == "response")
        for page, r in enumerate(responses):
            dec = decode_http_response(r["payload"])
            yield {
                "page": page,
                "target_uri": r["target_uri"],
                "http_status": dec["http_status"],
                "http_content_type": dec["http_content_type"],
                "body": dec["body"],
                "http_encoding": dec["http_encoding"],
                "charset": dec["charset"],
            }

    return map_blobs(df, id_col, content_col, WARC_RESPONSE_SCHEMA, rows)


WARC_ROUTED_SCHEMA = (
    "file_id bigint, page int, kind string, html string, pdf_text string"
)


def scan_warc_routed(df, id_col="file_id", content_col="content"):
    """Content-type ROUTER over WARC response records (round-15): the
    front end of a real mixed-media crawl.  Each response's framing is
    decoded once (:func:`decode_http_response`), then the MIME type
    routes the body: ``text/html`` ships the charset-decoded string
    out for the JVM-side html_to_text chain, ``application/pdf``
    ships the framing-decoded BYTES through
    :func:`..operators.pdfmeta.parse_pdf_text` in-kernel (binary must
    never round-trip through a charset decode), anything else is
    ``kind='other'`` with NULL text.  An encrypted/undecodable PDF
    keeps kind='pdf' with NULL pdf_text (quarantine observable per
    row); a rejected archive emits the single page = -1 row.  One
    Arrow-batched 1->N mapInPandas pass; blobs never shuffle."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs
    from etl_tiki_webscraping_spark.operators.pdfmeta import parse_pdf_text

    def rows(data):
        recs = (
            parse_warc_file(data, include_payload=True)
            if data is not None else None
        )
        if recs is None:
            yield {"page": -1}
            return
        responses = (r for r in recs if r["warc_type"] == "response")
        for page, r in enumerate(responses):
            dec = decode_http_response(r["payload"])
            mime = (dec["http_content_type"] or "").split(";")[0].strip().lower()
            rec = {"page": page, "kind": "other"}
            if mime == "text/html":
                rec["kind"] = "html"
                rec["html"] = dec["body"]
            elif mime == "application/pdf":
                rec["kind"] = "pdf"
                pages = (
                    parse_pdf_text(dec["body_bytes"])
                    if dec["body_bytes"] is not None else None
                )
                if pages is not None:
                    rec["pdf_text"] = " ".join(pages)
            yield rec

    return map_blobs(df, id_col, content_col, WARC_ROUTED_SCHEMA, rows)


# --------------------------------------------------------------------------
# WET conversion records (round-15): Common Crawl's text derivative
# --------------------------------------------------------------------------


def wet_fixture_text(file_id: int, page: int) -> str:
    """Deterministic conversion-record text — carries non-ASCII
    (``Résumé``) so the utf-8 payload decode is hash-observable,
    replayable from (file_id, page) arithmetic."""
    return (
        f"Résumé doc {file_id} page {page}: alpha beta "
        f"tok{(file_id + page) % 50} gamma delta"
    )


def encode_wet(
    file_id: int,
    n_pages: int,
    gzip_per_record: bool = False,
    truncate: int = 0,
) -> bytes:
    """WET fixture writer: a warcinfo record followed by ``n_pages``
    ``conversion`` records whose payloads are the utf-8
    :func:`wet_fixture_text` — the layout Common Crawl publishes as
    its pre-extracted text derivative (one conversion record per
    successfully extracted page, no request/response pairs).
    ``gzip_per_record`` emits the .wet.gz one-member-per-record
    layout; ``truncate`` drops trailing bytes for the strict-rejection
    case."""
    date = "2026-01-01T00:00:00Z"
    recs: "list[bytes]" = [
        _record(
            "warcinfo", f"<urn:uuid:wet-{file_id:08d}-0>", date,
            b"software: fixture-wet\r\n",
        )
    ]
    for page in range(n_pages):
        recs.append(_record(
            "conversion", f"<urn:uuid:wet-{file_id:08d}-{page + 1}>", date,
            wet_fixture_text(file_id, page).encode("utf-8"),
            target_uri=f"https://example.org/site{file_id % 97}/page{page}",
        ))
    if gzip_per_record:
        out = b"".join(_gzip_member(r) for r in recs)
    else:
        out = b"".join(recs)
    return out[: len(out) - truncate] if truncate else out


WET_SCAN_SCHEMA = (
    "file_id bigint, page int, target_uri string, text string"
)


def scan_wet_conversions(df, id_col="file_id", content_col="content"):
    """WET -> per-page text rows in one Arrow-batched 1->N mapInPandas
    expansion: the blob runs the SAME single validated walk as the
    WARC scans (:func:`parse_warc_file` — strict tiling, per-member
    gzip, lenient header decode), then each ``conversion`` record
    yields (page, target_uri, utf-8 text); non-conversion records
    (warcinfo, metadata) are skipped without consuming a page index.
    A blob the walk rejects emits the single ``page = -1`` quarantine
    row — a truncated shard is never half-ingested.  Token counting
    and all downstream text operators stay JVM-side; blobs never
    shuffle."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        recs = parse_warc_file(data, include_payload=True)
        if recs is None:
            yield {"page": -1}
            return
        conversions = (r for r in recs if r["warc_type"] == "conversion")
        for page, r in enumerate(conversions):
            yield {
                "page": page,
                "target_uri": r["target_uri"],
                "text": r["payload"].decode("utf-8", "replace"),
            }

    return map_blobs(df, id_col, content_col, WET_SCAN_SCHEMA, rows)
