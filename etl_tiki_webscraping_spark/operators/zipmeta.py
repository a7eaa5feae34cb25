"""ZIP container TRIAGE — central-directory walk (round-14): a crawl
sees ZIP everywhere office/ebook formats live (docx/xlsx/pptx are OPC
zips, EPUB is a zip with a ``mimetype`` first entry, JARs are zips
with ``META-INF/MANIFEST.MF``), and classifying them needs only the
PUBLIC PKWARE APPNOTE layout — no payload inflation:

- End Of Central Directory record (sig 0x06054b50) found from the
  tail (it ends the file, optionally followed by a <= 64 KiB comment
  whose declared length must land exactly at EOF);
- central directory file headers (sig 0x02014b50): per-entry name,
  compression method, compressed/uncompressed sizes, the
  encryption bit of the general-purpose flags;
- entry count / directory size / offset cross-checked against the
  EOCD fields (a lying EOCD rejects — the strict-tiling rule).

Classification (``kind``): 'docx'/'xlsx'/'pptx' via the OPC
``[Content_Types].xml`` marker + the ``word/``/``xl/``/``ppt/``
prefix, 'epub' via the ``mimetype`` entry, 'jar' via
``META-INF/MANIFEST.MF``, else 'zip'.

Spark-side shape: one Arrow-batched 1->1 mapInPandas pass
(:func:`extract_zip_metadata`), blobs never shuffle.  Fixtures are
written with the stdlib ``zipfile`` module (stored entries so sizes
replay from the oracle's arithmetic) but parsed with THIS module's
independent walk — writer and reader share no code.
"""

from __future__ import annotations

import struct
import zipfile
from hashlib import md5 as _md5
from io import BytesIO

_EOCD_SIG = 0x06054B50
_CDFH_SIG = 0x02014B50


def _central_directory(content: bytes) -> "list[dict] | None":
    """The strict central-directory walk shared by :func:`parse_zip`
    and :func:`zip_member_bytes`: per-entry dicts ``{name, flags,
    method, crc, csize, usize, local_off}`` or None on any
    malformation (no/ambiguous EOCD, comment not reaching EOF,
    directory not tiling, count mismatch, ZIP64 markers, a method
    outside stored/deflate)."""
    if content is None or len(content) < 22:
        return None
    # EOCD: scan the last 64 KiB + 22 for the signature whose comment
    # length lands exactly at EOF
    tail_start = max(0, len(content) - (0xFFFF + 22))
    eocd = None
    pos = len(content) - 22
    while pos >= tail_start:
        if struct.unpack_from("<I", content, pos)[0] == _EOCD_SIG:
            (clen,) = struct.unpack_from("<H", content, pos + 20)
            if pos + 22 + clen == len(content):
                eocd = pos
                break
        pos -= 1
    if eocd is None:
        return None
    disk, cd_disk, n_disk, n_total, cd_size, cd_off = struct.unpack_from(
        "<HHHHII", content, eocd + 4
    )
    if disk != 0 or cd_disk != 0 or n_disk != n_total:
        return None  # multi-disk archives out of scope
    if n_total == 0xFFFF or cd_off == 0xFFFFFFFF:
        return None  # ZIP64 out of scope (strict, not silently wrong)
    if cd_off + cd_size != eocd:
        return None  # directory must end exactly at the EOCD
    entries: "list[dict]" = []
    p = cd_off
    for _ in range(n_total):
        if p + 46 > eocd or struct.unpack_from("<I", content, p)[0] != _CDFH_SIG:
            return None
        flags, method = struct.unpack_from("<HH", content, p + 8)
        (crc,) = struct.unpack_from("<I", content, p + 16)
        csize, usize = struct.unpack_from("<II", content, p + 20)
        nlen, elen, klen = struct.unpack_from("<HHH", content, p + 28)
        (local_off,) = struct.unpack_from("<I", content, p + 42)
        if p + 46 + nlen + elen + klen > eocd:
            return None
        if method not in (0, 8):
            return None  # stored/deflate only (strict subset)
        entries.append({
            "name": content[p + 46 : p + 46 + nlen].decode("utf-8", "replace"),
            "flags": flags, "method": method, "crc": crc,
            "csize": csize, "usize": usize, "local_off": local_off,
        })
        p += 46 + nlen + elen + klen
    if p != eocd:
        return None
    return entries


def parse_zip(content: bytes) -> "dict | None":
    """Strict central-directory parse: ``{n_entries, total_uncompressed,
    total_compressed, n_deflated, has_encrypted, kind, first_name}``
    or None (see :func:`_central_directory`)."""
    entries = _central_directory(content)
    if entries is None:
        return None
    names = [e["name"] for e in entries]
    total_u = sum(e["usize"] for e in entries)
    total_c = sum(e["csize"] for e in entries)
    n_deflated = sum(1 for e in entries if e["method"] == 8)
    has_encrypted = any(e["flags"] & 0x1 for e in entries)
    n_total = len(entries)
    nameset = set(names)
    kind = "zip"
    if "[Content_Types].xml" in nameset:
        if any(n.startswith("word/") for n in names):
            kind = "docx"
        elif any(n.startswith("xl/") for n in names):
            kind = "xlsx"
        elif any(n.startswith("ppt/") for n in names):
            kind = "pptx"
        else:
            kind = "opc"
    elif names and names[0] == "mimetype":
        kind = "epub"
    elif "META-INF/MANIFEST.MF" in nameset:
        kind = "jar"
    return {
        "n_entries": n_total,
        "total_uncompressed": total_u,
        "total_compressed": total_c,
        "n_deflated": n_deflated,
        "has_encrypted": has_encrypted,
        "kind": kind,
        "first_name": names[0] if names else None,
    }


def sniff_zip(content: "bytes | None") -> bool:
    """Local-file-header magic at offset 0 (the common case; a
    self-extractor prefix would still parse via the EOCD walk)."""
    return content is not None and content[:4] in (b"PK\x03\x04", b"PK\x05\x06")


def encode_zip_fixture(
    file_id: int,
    kind: str = "zip",
    n_docs: int = 3,
    seed: int = 0,
) -> bytes:
    """Fixture writer via stdlib ``zipfile`` (STORED entries so the
    oracle replays sizes exactly): per ``kind`` the marker entries a
    classifier must key on, plus ``n_docs`` payload entries of
    ``40 + (file_id + i) % 32`` md5-derived bytes each."""
    buf = BytesIO()
    date = (2026, 1, 1, 0, 0, 0)
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        def add(name: str, data: bytes) -> None:
            zi = zipfile.ZipInfo(name, date_time=date)
            zf.writestr(zi, data)

        if kind == "epub":
            add("mimetype", b"application/epub+zip")
        elif kind in ("docx", "xlsx", "pptx"):
            add("[Content_Types].xml", b"<Types/>")
            prefix = {"docx": "word/", "xlsx": "xl/", "pptx": "ppt/"}[kind]
            add(prefix + "main.xml", b"<root/>")
        elif kind == "jar":
            add("META-INF/MANIFEST.MF", b"Manifest-Version: 1.0\r\n")
        for i in range(n_docs):
            n = 40 + (file_id + i) % 32
            body = b"".join(
                _md5(f"zip:{seed}:{file_id}:{i}:{j}".encode()).digest()
                for j in range(n // 16 + 1)
            )[:n]
            add(f"data/part{i}.bin", body)
    return buf.getvalue()


ZIP_META_SCHEMA = (
    "file_id bigint, is_zip boolean, kind string, n_entries int, "
    "total_uncompressed bigint, has_encrypted boolean"
)


def extract_zip_metadata(df, id_col="file_id", content_col="content"):
    """Per-blob ZIP triage in one Arrow-batched mapInPandas pass; a
    blob the strict directory walk rejects emits the magic-sniffed
    quarantine row."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        meta = parse_zip(data)
        rec = {"is_zip": sniff_zip(data)}
        if meta is not None:
            rec.update(
                kind=meta["kind"],
                n_entries=meta["n_entries"],
                total_uncompressed=meta["total_uncompressed"],
                has_encrypted=meta["has_encrypted"],
            )
        yield rec

    return map_blobs(df, id_col, content_col, ZIP_META_SCHEMA, rows)


_LFH_SIG = 0x04034B50


def zip_member_bytes(content: bytes, name: str) -> "bytes | None":
    """Inflate one member (round-15): locate ``name`` in the strict
    central directory, follow its local-header offset (sig checked,
    name cross-checked against the directory), read exactly csize
    bytes, inflate raw-deflate (``wbits=-15``) for method 8 or slice
    for stored, and verify BOTH the uncompressed size and the CRC-32
    against the directory record — a member that lies about any of
    them returns None (never silently-wrong text)."""
    import zlib

    entries = _central_directory(content)
    if entries is None:
        return None
    ent = next((e for e in entries if e["name"] == name), None)
    if ent is None or ent["flags"] & 0x1:
        return None
    off = ent["local_off"]
    if off + 30 > len(content):
        return None
    if struct.unpack_from("<I", content, off)[0] != _LFH_SIG:
        return None
    nlen, elen = struct.unpack_from("<HH", content, off + 26)
    if content[off + 30 : off + 30 + nlen].decode("utf-8", "replace") != ent["name"]:
        return None
    start = off + 30 + nlen + elen
    raw = content[start : start + ent["csize"]]
    if len(raw) != ent["csize"]:
        return None
    if ent["method"] == 0:
        out = raw
    else:
        d = zlib.decompressobj(wbits=-15)
        try:
            out = d.decompress(raw)
        except zlib.error:
            return None
        if d.unused_data:
            return None
    if len(out) != ent["usize"] or zlib.crc32(out) != ent["crc"]:
        return None
    return out


def docx_fixture_paragraph(file_id: int, para: int) -> str:
    """Replayable per-paragraph text: two <w:t> runs join with ''."""
    return (
        f"Para {para} alpha{(file_id + para) % 9}"
        f" beta{(file_id + para) % 7}"
    )


def encode_docx_fixture(file_id: int, n_paras: int, truncate: int = 0) -> bytes:
    """A real (minimal) OPC docx via stdlib ``zipfile`` with DEFLATED
    entries — the inflate path is actually exercised: the content-type
    marker plus ``word/document.xml`` whose paragraphs each carry two
    ``<w:t>`` runs (the second with a leading preserved space, the
    classic run-split shape)."""
    buf = BytesIO()
    date = (2026, 1, 1, 0, 0, 0)
    paras = "".join(
        f"<w:p><w:r><w:t>Para {p} alpha{(file_id + p) % 9}</w:t></w:r>"
        f'<w:r><w:t xml:space="preserve"> beta{(file_id + p) % 7}</w:t>'
        f"</w:r></w:p>"
        for p in range(n_paras)
    )
    doc = f"<w:document><w:body>{paras}</w:body></w:document>"
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in (
            ("[Content_Types].xml", b"<Types/>"),
            ("word/document.xml", doc.encode()),
        ):
            zi = zipfile.ZipInfo(name, date_time=date)
            # a bare ZipInfo defaults to STORED even in a DEFLATED
            # archive — set it so the inflate path is really exercised
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, data)
    out = buf.getvalue()
    return out[: len(out) - truncate] if truncate else out


DOCX_XML_SCHEMA = "file_id bigint, document_xml string"


def extract_docx_xml(df, id_col="file_id", content_col="content"):
    """docx -> ``word/document.xml`` text in one Arrow-batched 1->1
    mapInPandas pass: the strict directory walk must classify the
    blob as docx AND the member must inflate with size+CRC agreement,
    else the row quarantines (NULL xml).  Downstream paragraph/run
    extraction stays JVM-side (regexp over the xml column) — Python
    touches each blob exactly once."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        meta = parse_zip(data)
        xml = None
        if meta is not None and meta["kind"] == "docx":
            raw = zip_member_bytes(data, "word/document.xml")
            if raw is not None:
                xml = raw.decode("utf-8", "replace")
        yield {"document_xml": xml}

    return map_blobs(df, id_col, content_col, DOCX_XML_SCHEMA, rows)
