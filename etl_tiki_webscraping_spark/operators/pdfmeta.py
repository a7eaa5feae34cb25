"""PDF TRIAGE + text extraction (round-15, VERDICT r14 ask #2): the
single most common non-HTML document format in a web crawl.  Both
operators need only the PUBLIC file layout (ISO 32000 / the classic
Adobe PDF Reference):

- header ``%PDF-1.x``; a ``startxref`` pointer at the tail; a
  cross-reference TABLE of ``offset generation n/f`` entries; a
  ``trailer`` dict carrying /Size /Root /Info and (for protected
  files) /Encrypt;
- the /Root catalog points at the /Pages tree whose /Count is the
  page count and whose /Kids list the page objects;
- each page's /Contents stream is FlateDecode'd (stdlib zlib) and
  text shows through ``BT .. ET`` blocks as ``(string) Tj`` and
  ``[(seg) kern (seg)] TJ`` operators with ``\\( \\) \\\\ \\n \\r
  \\t`` escapes in literals.

STRICT (the established container contract): the header must parse,
``%%EOF`` must terminate the file, startxref must land on ``xref``,
every subsection entry must be exactly 20 bytes, /Size must equal the
entry span, and EVERY in-use entry's offset must land exactly on its
own ``N 0 obj`` header — else the file quarantines (is_pdf sniff
only).  /Encrypt routes to a DISTINCT class: structure stays readable
(xref, page count, object count are plaintext in a standard-security
PDF) but strings/streams are ciphertext, so producer/title/text are
NULL rather than mojibake.

Join conventions for extracted text (documented, oracle-pinned):
separate ``Tj`` show operators join with a single space (distinct
positioned runs); string elements INSIDE one ``TJ`` array join with
'' (kerning-split continuations of one run).

Spark-side shape: one Arrow-batched 1->1 (meta) / 1->N (per-page
text) mapInPandas pass; blobs never shuffle.  Fixtures are assembled
by :func:`encode_pdf_fixture` (forward layout, offsets computed while
writing) and parsed by the independent xref-driven walk below —
writer and reader share no code.
"""

from __future__ import annotations

import re
import zlib

_XREF_ENTRY_RE = re.compile(rb"^(\d{10}) (\d{5}) ([nf])[\r\n ]{2}$")
_REF_RE = {
    name: re.compile(rb"/" + name.encode() + rb"\s+(\d+)\s+0\s+R")
    for name in ("Root", "Info", "Pages", "Contents", "Encrypt")
}


def _scan_literal(b: bytes, i: int) -> "tuple[str, int] | None":
    """Scan a PDF string literal starting at ``b[i] == '('``; returns
    (decoded_text, index_after) or None when unterminated.  Handles
    balanced nested parens and the ``\\( \\) \\\\ \\n \\r \\t``
    escapes."""
    out = bytearray()
    depth = 1
    i += 1
    esc = {b"n": b"\n", b"r": b"\r", b"t": b"\t",
           b"(": b"(", b")": b")", b"\\": b"\\"}
    n = len(b)
    while i < n:
        c = b[i : i + 1]
        if c == b"\\":
            nxt = b[i + 1 : i + 2]
            if nxt in esc:
                out += esc[nxt]
                i += 2
                continue
            i += 2  # unknown escape: PDF says drop the backslash
            out += nxt
            continue
        if c == b"(":
            depth += 1
            out += c
        elif c == b")":
            depth -= 1
            if depth == 0:
                return out.decode("latin-1"), i + 1
            out += c
        else:
            out += c
        i += 1
    return None


def _dict_at(data: bytes, pos: int) -> "bytes | None":
    """The ``<< .. >>`` dict starting at/after ``pos`` (nesting-aware,
    byte slice returned raw)."""
    start = data.find(b"<<", pos)
    if start < 0:
        return None
    depth = 0
    i = start
    n = len(data)
    while i < n - 1:
        pair = data[i : i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return data[start:i]
        else:
            i += 1
    return None


def _obj_slice(data: bytes, entries: dict, num: int) -> "bytes | None":
    """The body of object ``num`` (from its xref offset to endobj)."""
    ent = entries.get(num)
    if ent is None or ent[1] != "n":
        return None
    off = ent[0]
    end = data.find(b"endobj", off)
    if end < 0:
        return None
    return data[off:end]


def parse_pdf(data: "bytes | None") -> "dict | None":
    """Strict header/xref/trailer walk: ``{version_minor, n_pages,
    n_objects, encrypted, producer, title, page_contents}`` or None
    (see module docstring for the rejection list).  ``page_contents``
    is the ordered list of content-stream object numbers (empty when
    encrypted — ciphertext streams are not decodable)."""
    if data is None or not data.startswith(b"%PDF-1."):
        return None
    if not data[7:8].isdigit():
        return None
    version = int(data[7:8])
    if not data.rstrip(b"\r\n \t").endswith(b"%%EOF"):
        return None
    sx = data.rfind(b"startxref")
    if sx < 0:
        return None
    m = re.match(rb"startxref\s+(\d+)\s", data[sx : sx + 40])
    if m is None:
        return None
    xoff = int(m.group(1))
    if data[xoff : xoff + 4] != b"xref":
        return None
    # subsection walk: 'start count' lines then count 20-byte entries
    pos = xoff + 4
    while data[pos : pos + 1] in (b"\r", b"\n"):
        pos += 1
    entries: "dict[int, tuple[int, str]]" = {}
    max_num = -1
    while not data[pos : pos + 7] == b"trailer":
        eol = data.find(b"\n", pos)
        if eol < 0:
            return None
        m = re.match(rb"^(\d+) (\d+)\s*$", data[pos:eol].rstrip(b"\r"))
        if m is None:
            return None
        start, count = int(m.group(1)), int(m.group(2))
        pos = eol + 1
        for k in range(count):
            raw = data[pos : pos + 20]
            em = _XREF_ENTRY_RE.match(raw)
            if em is None:
                return None
            entries[start + k] = (int(em.group(1)), em.group(3).decode())
            pos += 20
        max_num = max(max_num, start + count - 1)
        while data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
    trailer = _dict_at(data, pos)
    if trailer is None:
        return None
    sm = re.search(rb"/Size\s+(\d+)", trailer)
    if sm is None or int(sm.group(1)) != max_num + 1:
        return None
    # the xref cross-check: every in-use offset lands exactly on its
    # own 'N 0 obj' header
    n_objects = 0
    for num, (off, typ) in entries.items():
        if typ != "n":
            continue
        if not re.match(
            rb"^%d\s+0\s+obj" % num, data[off : off + 24]
        ):
            return None
        n_objects += 1
    encrypted = _REF_RE["Encrypt"].search(trailer) is not None
    out = {
        "version_minor": version, "n_pages": None, "n_objects": n_objects,
        "encrypted": encrypted, "producer": None, "title": None,
        "page_contents": [],
    }
    rm = _REF_RE["Root"].search(trailer)
    if rm is None:
        return None
    root = _obj_slice(data, entries, int(rm.group(1)))
    if root is None or b"/Type" not in root or b"/Catalog" not in root:
        return None
    pm = _REF_RE["Pages"].search(root)
    if pm is None:
        return None
    pages = _obj_slice(data, entries, int(pm.group(1)))
    if pages is None or b"/Pages" not in pages:
        return None
    cm = re.search(rb"/Count\s+(\d+)", pages)
    if cm is None:
        return None
    out["n_pages"] = int(cm.group(1))
    km = re.search(rb"/Kids\s*\[([^\]]*)\]", pages)
    if km is None:
        return None
    kid_nums = [int(x) for x in re.findall(rb"(\d+)\s+0\s+R", km.group(1))]
    if len(kid_nums) != out["n_pages"]:
        return None  # flat page tree contract: /Count must match /Kids
    if not encrypted:
        for kn in kid_nums:
            page = _obj_slice(data, entries, kn)
            if page is None:
                return None
            cref = _REF_RE["Contents"].search(page)
            out["page_contents"].append(
                int(cref.group(1)) if cref else None
            )
        im = _REF_RE["Info"].search(trailer)
        if im is not None:
            info = _obj_slice(data, entries, int(im.group(1)))
            if info is not None:
                for key, field in ((b"Producer", "producer"),
                                   (b"Title", "title")):
                    fm = re.search(rb"/" + key + rb"\s*\(", info)
                    if fm is not None:
                        lit = _scan_literal(info, fm.end() - 1)
                        if lit is not None:
                            out[field] = lit[0]
    out["_entries"] = entries
    return out


def _stream_bytes(data: bytes, entries: dict, num: int) -> "bytes | None":
    """The FlateDecode'd bytes of stream object ``num``; strict:
    /Length must be a direct int matching the slice, the filter must
    be FlateDecode, and inflate must consume cleanly.  The slice is
    taken from the FULL file at the xref offset — compressed bytes
    can contain 'endobj' by chance, so the endobj-scan slice is not
    safe here."""
    ent = entries.get(num)
    if ent is None or ent[1] != "n":
        return None
    off = ent[0]
    head = _dict_at(data, off)
    if head is None or b"/FlateDecode" not in head:
        return None
    lm = re.search(rb"/Length\s+(\d+)", head)
    if lm is None:
        return None
    length = int(lm.group(1))
    dict_end = data.find(b"<<", off) + len(head)
    sm = re.match(rb"\s*stream(\r\n|\n)", data[dict_end : dict_end + 16])
    if sm is None:
        return None
    start = dict_end + sm.end()
    raw = data[start : start + length]
    if len(raw) != length:
        return None
    d = zlib.decompressobj()
    try:
        out = d.decompress(raw)
    except zlib.error:
        return None
    return out if d.eof and not d.unused_data else None


def extract_text_ops(content: bytes) -> "str | None":
    """Text from one decoded content stream: ``(s) Tj`` runs join with
    ' ', elements inside one ``[..] TJ`` array join with '' (kerning
    continuations).  Only text inside BT..ET blocks counts.  None on
    an unterminated literal."""
    segments: "list[str]" = []
    in_text = False
    in_array: "list[str] | None" = None
    i = 0
    n = len(content)
    while i < n:
        c = content[i : i + 1]
        if c == b"(":
            lit = _scan_literal(content, i)
            if lit is None:
                return None
            text, i = lit
            if not in_text:
                continue
            if in_array is not None:
                in_array.append(text)
            else:
                # peek the operator after the literal
                m = re.match(rb"\s*(Tj)", content[i : i + 8])
                if m is not None:
                    segments.append(text)
            continue
        if c == b"[" and in_text:
            in_array = []
        elif c == b"]" and in_array is not None:
            m = re.match(rb"\s*(TJ)", content[i + 1 : i + 9])
            if m is not None:
                segments.append("".join(in_array))
            in_array = None
        elif content[i : i + 2] == b"BT":
            in_text = True
            i += 1
        elif content[i : i + 2] == b"ET":
            in_text = False
            i += 1
        i += 1
    return " ".join(segments)


def parse_pdf_text(data: "bytes | None") -> "list[str] | None":
    """Per-page extracted text, or None when the file quarantines
    (strict walk fails, encrypted, or any page stream is
    undecodable)."""
    meta = parse_pdf(data)
    if meta is None or meta["encrypted"]:
        return None
    out: "list[str]" = []
    for cnum in meta["page_contents"]:
        if cnum is None:
            out.append("")
            continue
        raw = _stream_bytes(data, meta["_entries"], cnum)
        if raw is None:
            return None
        text = extract_text_ops(raw)
        if text is None:
            return None
        out.append(text)
    return out


# --------------------------------------------------------------------------
# fixture writer (forward layout; shares no code with the parser)
# --------------------------------------------------------------------------


def pdf_fixture_text(file_id: int, page: int) -> str:
    """The per-page text the fixture shows — parens exercised through
    the literal escapes on EVERY page, replayable from arithmetic."""
    return (
        f"Pdf {file_id} page {page} "
        f"(q{(file_id + page) % 7}) tok{(file_id + page) % 50}"
    )


def _pdf_escape(s: str) -> bytes:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    ).encode("latin-1")


def encode_pdf_fixture(file_id: int, truncate: int = 0) -> bytes:
    """Minimal-but-real PDF: catalog, flat page tree of ``1 + file_id
    % 4`` pages, one FlateDecode content stream per page, an Info
    dict, a classic xref table, trailer, startxref.  The content-op
    shape cycles on ``file_id % 5``:

    0. one ``(text) Tj`` per page;
    1. a kerning-split ``[(seg) -120 (seg)] TJ`` array;
    2. two positioned ``Tj`` runs (space-join contract);
    3. ENCRYPTED (standard-security stub: /Encrypt in the trailer,
       string/stream bytes scrambled) — distinct quarantine class;
    4. the same as 0, for ``truncate`` callers (tail-cut rejects).
    """
    k = file_id % 5
    n_pages = 1 + file_id % 4
    version = 4 + file_id % 3
    encrypted = k == 3

    bodies: "list[bytes]" = []
    for p in range(n_pages):
        text = pdf_fixture_text(file_id, p)
        if k == 1:
            cut = text.index(" pa") + 3  # 'Pdf {id} pa' | 'ge {p} ..'
            ops = (
                b"[" + b"(" + _pdf_escape(text[:cut]) + b") -120 ("
                + _pdf_escape(text[cut:]) + b")] TJ"
            )
        elif k == 2:
            part1, part2 = text.split(" page ", 1)
            ops = (
                b"(" + _pdf_escape(part1) + b") Tj 0 -14 Td ("
                + _pdf_escape("page " + part2) + b") Tj"
            )
        else:
            ops = b"(" + _pdf_escape(text) + b") Tj"
        bodies.append(b"BT /F1 12 Tf 72 720 Td " + ops + b" ET")

    objs: "list[bytes]" = []  # object number = index + 1
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    kids = b" ".join(
        b"%d 0 R" % (3 + 2 * p) for p in range(n_pages)
    )
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )  # 2
    for p in range(n_pages):
        cnum = 4 + 2 * p
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R >>" % cnum
        )  # 3 + 2p
        stream = zlib.compress(bodies[p])
        if encrypted:  # ciphertext stand-in: scrambled bytes
            stream = bytes(b ^ 0xA5 for b in stream)
        objs.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(stream)
            + stream + b"\nendstream"
        )  # 4 + 2p
    info_num = 3 + 2 * n_pages
    if encrypted:
        objs.append(b"<< /Producer (\xa5\xa6\xa7) /Title (\xa5\xa6) >>")
    else:
        objs.append(
            b"<< /Producer (FixtureWriter 1.0) /Title ("
            + _pdf_escape(f"Doc ({file_id})") + b") >>"
        )  # info
    if encrypted:
        objs.append(b"<< /Filter /Standard /V 1 /R 2 >>")  # encrypt dict

    out = bytearray(b"%%PDF-1.%d\n" % version)
    offsets: "list[int]" = []
    for i, body in enumerate(objs):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % (i + 1) + body + b"\nendobj\n"
    xref_off = len(out)
    n_total = len(objs) + 1
    out += b"xref\n0 %d\n" % n_total
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    trailer = (
        b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R" % (n_total, info_num)
    )
    if encrypted:
        trailer += b" /Encrypt %d 0 R" % (info_num + 1)
    trailer += b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_off
    out += trailer
    return bytes(out[: len(out) - truncate]) if truncate else bytes(out)


def sniff_pdf(content: "bytes | None") -> bool:
    return content is not None and content[:7] == b"%PDF-1."


PDF_META_SCHEMA = (
    "file_id bigint, is_pdf boolean, version_minor int, n_pages int, "
    "n_objects int, encrypted boolean, producer string, title string"
)


def extract_pdf_metadata(df, id_col="file_id", content_col="content"):
    """Per-blob PDF triage in one Arrow-batched mapInPandas pass; a
    blob the strict walk rejects emits the magic-sniffed quarantine
    row; an ENCRYPTED file keeps its structural fields (page/object
    counts are plaintext) with NULL strings."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        meta = parse_pdf(data)
        rec = {"is_pdf": sniff_pdf(data)}
        if meta is not None:
            rec.update(
                version_minor=meta["version_minor"],
                n_pages=meta["n_pages"],
                n_objects=meta["n_objects"],
                encrypted=meta["encrypted"],
                producer=meta["producer"],
                title=meta["title"],
            )
        yield rec

    return map_blobs(df, id_col, content_col, PDF_META_SCHEMA, rows)


PDF_TEXT_SCHEMA = "file_id bigint, page int, text string, n_chars int"


def extract_pdf_text(df, id_col="file_id", content_col="content"):
    """1->N per-page text expansion; a file that quarantines (strict
    reject OR encrypted) emits the single page = -1 row."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        pages = parse_pdf_text(data)
        if pages is None:
            yield {"page": -1}
            return
        for p, text in enumerate(pages):
            yield {"page": p, "text": text, "n_chars": len(text)}

    return map_blobs(df, id_col, content_col, PDF_TEXT_SCHEMA, rows)
