"""MP4 / ISO-BMFF container TRIAGE — header-only box walk (round-14,
r13 VERDICT ask #2): web video is MP4-dominant, and the only video leg
before this was MJPEG-in-AVI (operators/multimodal.py).  Like the MP3
frame walk and the Ogg page walk in :mod:`.audiometa`, a 100 TB crawl
will never DECODE these payloads, but it budgets / samples /
quarantines on ftyp brand, duration, track count, and per-track codec
fourccs — all of which live in fixed-layout ISO/IEC 14496-12 boxes.

Strictness (the GIF truncation rule throughout): boxes must tile their
container EXACTLY (top level and every descended parent), sizes must
be >= 8 (64-bit largesize and to-end-of-file sizes are rejected — the
fixtures a crawl triages are complete small headers, and accepting a
size-0 box would make truncation undetectable), ftyp must come first,
moov/trak/mdia/minf/stbl walks check every bound, and full-box
version/flags are validated where the layout depends on them.

Spark-side shape: one Arrow-batched mapInPandas pass
(:func:`extract_mp4_metadata`), blobs never shuffle.  The fixture
writer (:func:`encode_mp4_stub`) emits spec-layout boxes with
md5-derived mdat junk so the catalog oracle replays every extracted
field from doc_id arithmetic — bit-strict, all integers and fourcc
strings.
"""

from __future__ import annotations

import struct
from hashlib import md5 as _md5

# box types that are pure containers in the paths we walk
_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _walk_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for the boxes tiling
    ``data[start:end]``; raises ValueError on any malformation (caller
    converts to the None quarantine contract)."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        (size,) = struct.unpack_from(">I", data, pos)
        fourcc = data[pos + 4 : pos + 8]
        if size < 8:  # 0 (to-EOF) and 1 (largesize) out of scope
            raise ValueError(f"unsupported box size {size}")
        if pos + size > end:
            raise ValueError("box overruns container")
        yield fourcc, pos + 8, pos + size
        pos += size
    if pos != end:
        raise ValueError("boxes do not tile container")


def _child(data: bytes, start: int, end: int, fourcc: bytes):
    """(payload_start, payload_end) of the FIRST child box of the
    given type, or None; malformations propagate as ValueError."""
    for fc, s, e in _walk_boxes(data, start, end):
        if fc == fourcc:
            return s, e
    return None


def _fullbox(data: bytes, s: int, e: int, versions=(0,)) -> "tuple[int, int]":
    """Validate a full-box header: returns (version, payload offset
    past version+flags).  Flags are not interpreted but must exist."""
    if s + 4 > e:
        raise ValueError("truncated full box")
    version = data[s]
    if version not in versions:
        raise ValueError(f"unsupported full-box version {version}")
    return version, s + 4


def parse_mp4(content: bytes) -> "dict | None":
    """Strict header-only MP4 parse: ``{brand, timescale, duration,
    duration_ms, n_tracks, codecs, total_samples, has_mdat}`` or None.

    - ftyp MUST be the first top-level box; brand is its major brand.
    - mvhd (version 0 or 1) yields the movie timescale + duration.
    - every trak must descend tkhd/mdia/mdhd/hdlr/minf/stbl/stsd with
      exact tiling; codec = the stsd's FIRST sample-entry fourcc.
    - stsz with a uniform sample size carries the count inline; a
      per-sample table's declared entry count must fit its box.
    """
    if content is None or len(content) < 16:
        return None
    try:
        top = list(_walk_boxes(content, 0, len(content)))
        if not top or top[0][0] != b"ftyp":
            return None
        fs, fe = top[0][1], top[0][2]
        if fe - fs < 8 or (fe - fs) % 4:
            return None
        brand = content[fs : fs + 4].decode("ascii", "replace")
        moov = None
        has_mdat = False
        for fc, s, e in top:
            if fc == b"moov" and moov is None:
                moov = (s, e)
            elif fc == b"mdat":
                has_mdat = True
        if moov is None:
            return None
        mvhd = _child(content, moov[0], moov[1], b"mvhd")
        if mvhd is None:
            return None
        ver, p = _fullbox(content, mvhd[0], mvhd[1], versions=(0, 1))
        if ver == 0:
            if p + 16 > mvhd[1]:
                return None
            (timescale,) = struct.unpack_from(">I", content, p + 8)
            (duration,) = struct.unpack_from(">I", content, p + 12)
        else:
            if p + 28 > mvhd[1]:
                return None
            (timescale,) = struct.unpack_from(">I", content, p + 16)
            (duration,) = struct.unpack_from(">Q", content, p + 20)
        if timescale == 0:
            return None
        codecs: "list[str]" = []
        total_samples = 0
        for fc, s, e in _walk_boxes(content, moov[0], moov[1]):
            if fc != b"trak":
                continue
            mdia = _child(content, s, e, b"mdia")
            if mdia is None:
                return None
            minf = _child(content, mdia[0], mdia[1], b"minf")
            if minf is None:
                return None
            stbl = _child(content, minf[0], minf[1], b"stbl")
            if stbl is None:
                return None
            stsd = _child(content, stbl[0], stbl[1], b"stsd")
            if stsd is None:
                return None
            _, p = _fullbox(content, stsd[0], stsd[1])
            if p + 4 > stsd[1]:
                return None
            (n_entries,) = struct.unpack_from(">I", content, p)
            if n_entries < 1:
                return None
            # first sample entry is itself a box: size + format fourcc
            entries = list(_walk_boxes(content, p + 4, stsd[1]))
            if len(entries) != n_entries:
                return None
            codecs.append(entries[0][0].decode("ascii", "replace"))
            stsz = _child(content, stbl[0], stbl[1], b"stsz")
            if stsz is None:
                return None
            _, p = _fullbox(content, stsz[0], stsz[1])
            if p + 8 > stsz[1]:
                return None
            (sample_size,) = struct.unpack_from(">I", content, p)
            (sample_count,) = struct.unpack_from(">I", content, p + 4)
            if sample_size == 0:
                # per-sample table must fit exactly
                if p + 8 + 4 * sample_count != stsz[1]:
                    return None
            elif p + 8 != stsz[1]:
                return None
            total_samples += sample_count
        if not codecs:
            return None
        return {
            "brand": brand,
            "timescale": timescale,
            "duration": duration,
            "duration_ms": duration * 1000 // timescale,
            "n_tracks": len(codecs),
            "codecs": ",".join(codecs),
            "total_samples": total_samples,
            "has_mdat": has_mdat,
        }
    except ValueError:
        return None


def sniff_mp4(content: "bytes | None") -> bool:
    """Cheap ftyp sniff (the quarantine-row router): a plausible box
    size followed by 'ftyp' at offset 4."""
    return (
        content is not None
        and len(content) >= 12
        and content[4:8] == b"ftyp"
        and content[0] == 0
    )


# --------------------------------------------------------------------------
# fixture writer
# --------------------------------------------------------------------------


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _fullbox_bytes(fourcc: bytes, version: int, payload: bytes) -> bytes:
    return _box(fourcc, bytes([version, 0, 0, 0]) + payload)


def encode_mp4_stub(
    brand: str = "isom",
    timescale: int = 1000,
    duration: int = 5000,
    tracks: "list[tuple[str, str, int]] | None" = None,
    mvhd_version: int = 0,
    seed: int = 0,
    mdat_bytes: int = 64,
) -> bytes:
    """Fixture writer: a spec-layout MP4 header — ftyp, moov with mvhd
    (version 0 or 1) and one trak/mdia/minf/stbl chain per
    ``(codec_fourcc, handler_fourcc, n_samples)`` entry (uniform-size
    stsz so the count is inline), plus an mdat of md5 junk.  Every
    field the parser extracts is a constructor argument, so oracle SQL
    can replay the full parse from the id arithmetic that chose them."""
    if tracks is None:
        tracks = [("avc1", "vide", 120)]
    ftyp = _box(
        b"ftyp",
        brand.encode("ascii") + struct.pack(">I", 0)
        + brand.encode("ascii") + b"isom",
    )
    if mvhd_version == 0:
        mvhd = _fullbox_bytes(
            b"mvhd", 0,
            struct.pack(">II", 0, 0)                      # creation/mod
            + struct.pack(">II", timescale, duration)
            + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
            + b"\x00" * 10
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + b"\x00" * 24 + struct.pack(">I", len(tracks) + 1),
        )
    else:
        mvhd = _fullbox_bytes(
            b"mvhd", 1,
            struct.pack(">QQ", 0, 0)
            + struct.pack(">I", timescale) + struct.pack(">Q", duration)
            + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
            + b"\x00" * 10
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + b"\x00" * 24 + struct.pack(">I", len(tracks) + 1),
        )
    traks = []
    for ti, (codec, handler, n_samples) in enumerate(tracks, 1):
        tkhd = _fullbox_bytes(
            b"tkhd", 0,
            struct.pack(">II", 0, 0) + struct.pack(">I", ti)
            + b"\x00" * 4
            # tkhd v0 duration is u32; clamp (the parser reads mvhd's)
            + struct.pack(">I", min(duration, 0xFFFFFFFF))
            + b"\x00" * 60,
        )
        mdhd = _fullbox_bytes(
            b"mdhd", 0,
            struct.pack(">II", 0, 0)
            + struct.pack(">II", timescale, min(duration, 0xFFFFFFFF))
            + struct.pack(">HH", 0x55C4, 0),  # und language
        )
        hdlr = _fullbox_bytes(
            b"hdlr", 0,
            struct.pack(">I", 0) + handler.encode("ascii")
            + b"\x00" * 12 + b"t\x00",
        )
        entry_junk = b"".join(
            _md5(f"stsd:{seed}:{ti}:{i}".encode()).digest() for i in range(2)
        )[:20]
        sample_entry = _box(
            codec.encode("ascii"),
            b"\x00" * 6 + struct.pack(">H", 1) + entry_junk,
        )
        stsd = _fullbox_bytes(b"stsd", 0, struct.pack(">I", 1) + sample_entry)
        stsz = _fullbox_bytes(
            b"stsz", 0, struct.pack(">II", 256 + ti, n_samples)
        )
        stbl = _box(b"stbl", stsd + stsz)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        traks.append(_box(b"trak", tkhd + mdia))
    moov = _box(b"moov", mvhd + b"".join(traks))
    junk = b"".join(
        _md5(f"mdat:{seed}:{i}".encode()).digest()
        for i in range(mdat_bytes // 16 + 1)
    )[:mdat_bytes]
    return ftyp + moov + _box(b"mdat", junk)


MP4_META_SCHEMA = (
    "media_id bigint, is_mp4 boolean, brand string, duration_ms bigint, "
    "n_tracks int, codecs string, total_samples bigint"
)


def extract_mp4_metadata(df, id_col="media_id", content_col="content"):
    """Header-only MP4 triage per blob in one Arrow-batched mapInPandas
    pass: (brand, duration_ms, track count, codec fourccs, total
    samples); a blob the strict walk rejects emits the NULL-stats
    quarantine row with ``is_mp4`` from the cheap ftyp sniff — a
    truncated or lying container is observable per-container, never
    silently dropped.  Blobs never shuffle."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        meta = parse_mp4(data)
        rec = {"is_mp4": sniff_mp4(data)}
        if meta is not None:
            rec.update(
                brand=meta["brand"],
                duration_ms=meta["duration_ms"],
                n_tracks=meta["n_tracks"],
                codecs=meta["codecs"],
                total_samples=meta["total_samples"],
            )
        yield rec

    return map_blobs(df, id_col, content_col, MP4_META_SCHEMA, rows)


# --------------------------------------------------------------------------
# AVIF / HEIC still images (the ISO-BMFF `meta` branch) — round-14
# --------------------------------------------------------------------------
#
# Modern crawl images increasingly arrive as AVIF (AV1 payload) and
# HEIC (HEVC payload) — ISO-BMFF files whose image properties live in
# fixed-layout boxes under `meta`: hdlr (handler 'pict'), iinf (item
# count), pitm (primary item), iprp/ipco/ispe (image spatial extent =
# the dimensions).  Like VP8 (see operators/webp_native.py), the
# payload codecs are out of scope — but dimensions, item counts, and
# brand accounting need only the box walk above, same strict-tiling
# rules as parse_mp4.  Subset note: dimensions are taken from the
# FIRST ispe in ipco (the single-image convention); files whose ipma
# associates a different ispe with the primary item are out of scope.

_AVIF_BRANDS = {"avif", "avis"}
_HEIC_BRANDS = {"heic", "heix", "mif1", "msf1"}


def parse_avif(content: bytes) -> "dict | None":
    """Strict header-only AVIF/HEIC parse: ``{brand, family, width,
    height, n_items, primary_item}`` or None.  family is 'avif' or
    'heic' from the major brand; the meta box must be version-0 with a
    'pict' handler, and every box must tile its parent exactly."""
    if content is None or len(content) < 16:
        return None
    try:
        top = list(_walk_boxes(content, 0, len(content)))
        if not top or top[0][0] != b"ftyp":
            return None
        fs, fe = top[0][1], top[0][2]
        if fe - fs < 8 or (fe - fs) % 4:
            return None
        brand = content[fs : fs + 4].decode("ascii", "replace")
        if brand in _AVIF_BRANDS:
            family = "avif"
        elif brand in _HEIC_BRANDS:
            family = "heic"
        else:
            return None
        meta = None
        for fc, s, e in top:
            if fc == b"meta" and meta is None:
                meta = (s, e)
        if meta is None:
            return None
        # meta is a FULL box: version/flags precede the children
        _, p = _fullbox(content, meta[0], meta[1])
        hdlr = _child(content, p, meta[1], b"hdlr")
        if hdlr is None:
            return None
        _, hp = _fullbox(content, hdlr[0], hdlr[1])
        if hdlr[1] - hp < 8 or content[hp + 4 : hp + 8] != b"pict":
            return None
        n_items = None
        iinf = _child(content, p, meta[1], b"iinf")
        if iinf is not None:
            ver, ip = _fullbox(content, iinf[0], iinf[1], versions=(0, 1))
            need = 2 if ver == 0 else 4
            if ip + need > iinf[1]:
                return None
            n_items = int.from_bytes(content[ip : ip + need], "big")
        primary = None
        pitm = _child(content, p, meta[1], b"pitm")
        if pitm is not None:
            ver, pp = _fullbox(content, pitm[0], pitm[1], versions=(0, 1))
            need = 2 if ver == 0 else 4
            if pp + need > pitm[1]:
                return None
            primary = int.from_bytes(content[pp : pp + need], "big")
        iprp = _child(content, p, meta[1], b"iprp")
        if iprp is None:
            return None
        ipco = _child(content, iprp[0], iprp[1], b"ipco")
        if ipco is None:
            return None
        ispe = _child(content, ipco[0], ipco[1], b"ispe")
        if ispe is None:
            return None
        _, sp = _fullbox(content, ispe[0], ispe[1])
        if sp + 8 != ispe[1]:
            return None
        (width,) = struct.unpack_from(">I", content, sp)
        (height,) = struct.unpack_from(">I", content, sp + 4)
        if width == 0 or height == 0:
            return None
        return {
            "brand": brand, "family": family,
            "width": width, "height": height,
            "n_items": n_items, "primary_item": primary,
        }
    except ValueError:
        return None


def encode_avif_stub(
    brand: str = "avif",
    width: int = 640,
    height: int = 480,
    n_items: int = 1,
    seed: int = 0,
    mdat_bytes: int = 48,
) -> bytes:
    """Fixture writer: ftyp + meta(hdlr 'pict' + pitm + iinf + iprp/
    ipco/ispe) + mdat junk — every parsed field is a constructor
    argument, replayable from id arithmetic."""
    ftyp = _box(
        b"ftyp",
        brand.encode("ascii") + struct.pack(">I", 0)
        + brand.encode("ascii") + b"mif1",
    )
    hdlr = _fullbox_bytes(
        b"hdlr", 0,
        struct.pack(">I", 0) + b"pict" + b"\x00" * 12 + b"f\x00",
    )
    pitm = _fullbox_bytes(b"pitm", 0, struct.pack(">H", 1))
    infe = _fullbox_bytes(
        b"infe", 2, struct.pack(">HH", 1, 0) + b"av01" + b"i\x00"
    )
    iinf = _fullbox_bytes(b"iinf", 0, struct.pack(">H", n_items) + infe * n_items)
    ispe = _fullbox_bytes(b"ispe", 0, struct.pack(">II", width, height))
    ipco = _box(b"ipco", ispe)
    iprp = _box(b"iprp", ipco)
    meta = _fullbox_bytes(b"meta", 0, hdlr + pitm + iinf + iprp)
    junk = b"".join(
        _md5(f"avif:{seed}:{i}".encode()).digest()
        for i in range(mdat_bytes // 16 + 1)
    )[:mdat_bytes]
    return ftyp + meta + _box(b"mdat", junk)


AVIF_META_SCHEMA = (
    "media_id bigint, is_bmff boolean, family string, brand string, "
    "width int, height int, n_items int"
)


def extract_avif_metadata(df, id_col="media_id", content_col="content"):
    """Per-blob AVIF/HEIC triage in one Arrow-batched mapInPandas
    pass; a blob the strict walk rejects emits the ftyp-sniffed
    quarantine row (the parse_mp4 contract)."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        meta = parse_avif(data)
        rec = {"is_bmff": sniff_mp4(data)}
        if meta is not None:
            rec.update(
                family=meta["family"], brand=meta["brand"],
                width=meta["width"], height=meta["height"],
                n_items=meta["n_items"],
            )
        yield rec

    return map_blobs(df, id_col, content_col, AVIF_META_SCHEMA, rows)
