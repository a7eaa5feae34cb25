"""Compressed-audio STREAM METADATA parsers (MP3 frame walk, Ogg page
walk) — the "metadata without decode" triage tier of the audio surface
(round-13, extending the r12 ask #4 per-format quarantine): a 100 TB
crawl pipeline cannot (and need not) decode MP3/Ogg payloads, but it
DOES need per-file duration / bitrate / page accounting to budget,
sample, and quarantine — exactly what these parsers extract from frame
and page HEADERS alone.

Everything is stdlib from the public format layouts:

- MP3 (MPEG-1 Layer III, the dominant web variant): 32-bit frame
  headers (11-bit sync, version/layer/bitrate/samplerate/padding
  fields), frame sizes ``144000 * bitrate_kbps / sample_rate +
  padding``, 1152 samples per frame, optional leading ID3v2 tag
  (syncsafe 28-bit size).  STRICT: every frame header must parse with
  a consistent version/layer/samplerate, frames must tile the stream
  exactly (no trailing garbage), else None — the GIF truncation rule.

- Ogg: "OggS" pages (version 0) with the 27-byte header, lacing
  table, and the page CRC-32 (poly 0x04C11DB7, unreflected, computed
  with the CRC field zeroed) VERIFIED per page; pages must tile the
  stream, the first page must carry beginning-of-stream, the last
  end-of-stream.

Both have fixture writers so tests and the catalog oracle replay the
whole trip from doc_id arithmetic (all-integer outputs — bit-strict).
Spark-side shape: one Arrow-batched mapInPandas pass
(:func:`extract_audio_stream_metadata`), blobs never shuffle.
"""

from __future__ import annotations

import struct
from hashlib import md5 as _md5

# MPEG-1 Layer III bitrate table (kbps), index 1..14
_MP3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
_MP3_RATES = (44100, 48000, 32000)  # MPEG-1 sample-rate index 0..2
_MP3_SAMPLES_PER_FRAME = 1152


def parse_id3v2_size(data: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 when absent): 10-byte
    header + the syncsafe 28-bit size.  Returns -1 on a malformed tag
    (non-syncsafe size bytes)."""
    if len(data) < 10 or data[:3] != b"ID3":
        return 0
    if any(b & 0x80 for b in data[6:10]):
        return -1
    size = (
        (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
    )
    return 10 + size


def parse_mp3_stream(content: bytes) -> "dict | None":
    """Walk every MPEG-1 Layer III frame header: returns
    ``{n_frames, sample_rate, bitrate_kbps_min, bitrate_kbps_max,
    duration_ms, has_id3}`` or None when the bytes are not a clean
    MP3 stream (bad sync anywhere, inconsistent version/layer/rate,
    reserved fields, frames not tiling the buffer)."""
    if content is None or len(content) < 4:
        return None
    skip = parse_id3v2_size(content)
    if skip < 0 or skip >= len(content):
        return None
    pos = skip
    n_frames = 0
    rate = None
    br_min = br_max = None
    while pos < len(content):
        if pos + 4 > len(content):
            return None
        (hdr,) = struct.unpack_from(">I", content, pos)
        if (hdr >> 21) & 0x7FF != 0x7FF:
            return None
        version = (hdr >> 19) & 3
        layer = (hdr >> 17) & 3
        if version != 3 or layer != 1:  # MPEG-1, Layer III only
            return None
        br_idx = (hdr >> 12) & 0xF
        sr_idx = (hdr >> 10) & 3
        padding = (hdr >> 9) & 1
        if br_idx in (0, 15) or sr_idx == 3:
            return None  # free-format / reserved: out of scope
        this_rate = _MP3_RATES[sr_idx]
        if rate is None:
            rate = this_rate
        elif this_rate != rate:
            return None
        kbps = _MP3_BITRATES[br_idx]
        br_min = kbps if br_min is None else min(br_min, kbps)
        br_max = kbps if br_max is None else max(br_max, kbps)
        frame_len = (144_000 * kbps) // rate + padding
        if frame_len < 4 or pos + frame_len > len(content):
            return None
        pos += frame_len
        n_frames += 1
    if n_frames == 0 or pos != len(content):
        return None
    return {
        "n_frames": n_frames,
        "sample_rate": rate,
        "bitrate_kbps_min": br_min,
        "bitrate_kbps_max": br_max,
        "duration_ms": n_frames * _MP3_SAMPLES_PER_FRAME * 1000 // rate,
        "has_id3": skip > 0,
    }


def encode_mp3_frames(
    bitrate_indices: "list[int]",
    sr_idx: int = 0,
    id3_size: "int | None" = None,
    seed: int = 0,
) -> bytes:
    """Fixture writer: one valid MPEG-1 Layer III frame per bitrate
    index, md5-derived payload bytes of exactly the header-implied
    length (padding bit alternates), optional leading ID3v2 tag."""
    out = bytearray()
    if id3_size is not None:
        out += b"ID3\x04\x00\x00"
        out += bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        )
        junk = b"".join(
            _md5(f"id3:{seed}:{i}".encode()).digest()
            for i in range(id3_size // 16 + 1)
        )
        out += junk[:id3_size]
    rate = _MP3_RATES[sr_idx]
    for fi, br_idx in enumerate(bitrate_indices):
        if not 1 <= br_idx <= 14:
            raise ValueError(f"bitrate index out of range: {br_idx}")
        padding = fi & 1
        hdr = (
            (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
            | (br_idx << 12) | (sr_idx << 10) | (padding << 9)
            | (3 << 6)  # mono channel mode
        )
        frame_len = (144_000 * _MP3_BITRATES[br_idx]) // rate + padding
        body = b"".join(
            _md5(f"mp3:{seed}:{fi}:{i}".encode()).digest()
            for i in range(frame_len // 16 + 1)
        )[: frame_len - 4]
        out += struct.pack(">I", hdr) + body
    return bytes(out)


# --------------------------------------------------------------------------
# Ogg pages
# --------------------------------------------------------------------------


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32: poly 0x04C11DB7, init 0, unreflected, no
    final xor (NOT the zlib crc32)."""
    crc = 0
    for b in data:
        crc ^= b << 24
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF
                if crc & 0x80000000
                else (crc << 1) & 0xFFFFFFFF
            )
    return crc


def parse_ogg_ident(packet: bytes) -> "dict | None":
    """Identify the codec from an Ogg stream's FIRST packet (round-14,
    r13 VERDICT ask #5) — the fixed-layout identification headers:

    - Vorbis: ``\\x01vorbis`` + version u32le (must be 0) + channels
      u8 + rate u32le + max/nominal/min bitrate i32le + blocksizes u8
      + framing byte (must be 1); exactly 30 bytes.
    - Opus: ``OpusHead`` + version u8 (major must be 1, i.e. 1..15) +
      channels u8 + pre-skip u16le + input rate u32le + gain i16le +
      mapping family u8; >= 19 bytes, mapping family 0 implies
      channels in 1..2.
    - Theora (video — the distinct-quarantine router): ``\\x80theora``.

    Returns ``{codec, channels, sample_rate, bitrate_nominal,
    pre_skip}`` (inapplicable fields None), ``{codec: 'theora'}``-style
    for video, ``{codec: 'other'}`` for an unrecognized first packet,
    or None for an empty packet."""
    if not packet:
        return None
    if packet[:7] == b"\x01vorbis":
        if len(packet) != 30 or packet[-1] != 1:
            return None
        (version,) = struct.unpack_from("<I", packet, 7)
        channels = packet[11]
        (rate,) = struct.unpack_from("<I", packet, 12)
        (nominal,) = struct.unpack_from("<i", packet, 20)
        if version != 0 or channels < 1 or rate < 1:
            return None
        return {
            "codec": "vorbis", "channels": channels, "sample_rate": rate,
            "bitrate_nominal": nominal, "pre_skip": None,
        }
    if packet[:8] == b"OpusHead":
        if len(packet) < 19:
            return None
        version = packet[8]
        # RFC 7845 §5.1: version 1; 0 < version < 16 is compatible
        if not 1 <= version <= 15:
            return None
        channels = packet[9]
        (pre_skip,) = struct.unpack_from("<H", packet, 10)
        (rate,) = struct.unpack_from("<I", packet, 12)
        mapping = packet[18]
        if channels < 1 or (mapping == 0 and channels > 2):
            return None
        return {
            "codec": "opus", "channels": channels, "sample_rate": rate,
            "bitrate_nominal": None, "pre_skip": pre_skip,
        }
    if packet[:7] == b"\x80theora":
        return {
            "codec": "theora", "channels": None, "sample_rate": None,
            "bitrate_nominal": None, "pre_skip": None,
        }
    return {
        "codec": "other", "channels": None, "sample_rate": None,
        "bitrate_nominal": None, "pre_skip": None,
    }


def parse_ogg_stream(content: bytes) -> "dict | None":
    """Walk every Ogg page, VERIFYING each page CRC: returns
    ``{n_pages, serial, last_granule, payload_bytes, bos, eos, codec,
    channels, sample_rate}`` or None (bad capture pattern, version,
    CRC, truncation, missing bos/eos, serial change mid-stream).
    ``codec``/``channels``/``sample_rate`` come from the first page's
    first packet via :func:`parse_ogg_ident` (r13 VERDICT ask #5) —
    'vorbis'/'opus' with their ident fields, 'theora' for video (the
    distinct quarantine route), 'other' otherwise."""
    if content is None or len(content) < 27 or content[:4] != b"OggS":
        return None
    pos = 0
    n_pages = 0
    serial = None
    last_granule = None
    payload_bytes = 0
    bos = eos = False
    first_packet: "bytes | None" = None
    while pos < len(content):
        if pos + 27 > len(content) or content[pos : pos + 4] != b"OggS":
            return None
        if content[pos + 4] != 0:  # stream structure version
            return None
        htype = content[pos + 5]
        (granule,) = struct.unpack_from("<q", content, pos + 6)
        (ser,) = struct.unpack_from("<I", content, pos + 14)
        (crc,) = struct.unpack_from("<I", content, pos + 22)
        nseg = content[pos + 26]
        lace_end = pos + 27 + nseg
        if lace_end > len(content):
            return None
        body_len = sum(content[pos + 27 : lace_end])
        page_end = lace_end + body_len
        if page_end > len(content):
            return None
        page = bytearray(content[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            return None
        if serial is None:
            serial = ser
            if not htype & 0x02:  # first page must be BOS
                return None
            bos = True
            # first packet = the first lacing-terminated segment span
            # of the first page (a value < 255 ends the packet)
            plen = 0
            for lv in content[pos + 27 : lace_end]:
                plen += lv
                if lv < 255:
                    break
            first_packet = content[lace_end : lace_end + plen]
        elif ser != serial:
            return None
        if htype & 0x04:
            eos = True
        last_granule = granule
        payload_bytes += body_len
        n_pages += 1
        pos = page_end
    if not n_pages or not eos or pos != len(content):
        return None
    ident = parse_ogg_ident(first_packet) or {
        "codec": "other", "channels": None, "sample_rate": None,
        "pre_skip": None,
    }
    # granule semantics are codec-defined: Vorbis counts PCM samples
    # at the declared rate; Opus always counts 48 kHz samples and the
    # decoded stream starts pre-skip samples in (RFC 7845 §4) — so the
    # final granule yields a duration with zero payload decode
    duration_ms = None
    if last_granule is not None and last_granule >= 0:
        if ident["codec"] == "vorbis" and ident["sample_rate"]:
            duration_ms = last_granule * 1000 // ident["sample_rate"]
        elif ident["codec"] == "opus":
            duration_ms = max(
                last_granule - (ident.get("pre_skip") or 0), 0
            ) * 1000 // 48000
    return {
        "n_pages": n_pages,
        "serial": serial,
        "last_granule": last_granule,
        "payload_bytes": payload_bytes,
        "bos": bos,
        "eos": eos,
        "codec": ident["codec"],
        "channels": ident["channels"],
        "sample_rate": ident["sample_rate"],
        "duration_ms": duration_ms,
    }


def encode_vorbis_ident(
    channels: int, rate: int, bitrate_nominal: int = 128_000
) -> bytes:
    """The 30-byte Vorbis identification header (packet form)."""
    return (
        b"\x01vorbis"
        + struct.pack("<I", 0)
        + bytes([channels])
        + struct.pack("<I", rate)
        + struct.pack("<iii", -1, bitrate_nominal, -1)
        + b"\xb8"  # blocksizes 2^8 / 2^11
        + b"\x01"  # framing bit
    )


def encode_opus_head(
    channels: int, rate: int, pre_skip: int = 312
) -> bytes:
    """The 19-byte OpusHead identification header (mapping family 0)."""
    return (
        b"OpusHead"
        + bytes([1, channels])
        + struct.pack("<H", pre_skip)
        + struct.pack("<I", rate)
        + struct.pack("<h", 0)
        + bytes([0])
    )


def encode_ogg_pages(
    n_pages: int,
    serial: int,
    final_granule: int,
    seed: int = 0,
    page_payload: int = 200,
    ident: "bytes | None" = None,
) -> bytes:
    """Fixture writer: ``n_pages`` CRC-correct Ogg pages (BOS on the
    first, EOS on the last, granule -1 on intermediate pages per the
    continued-packet convention, ``final_granule`` on the last),
    md5-derived payloads.  ``ident`` puts an identification packet on
    its own first page (granule 0, the Vorbis/Opus convention) —
    ``n_pages`` still counts that page."""
    if n_pages < 1 or (ident is not None and n_pages < 2):
        raise ValueError("need at least one page (two with an ident)")
    out = bytearray()
    for p in range(n_pages):
        htype = (0x02 if p == 0 else 0) | (0x04 if p == n_pages - 1 else 0)
        granule = final_granule if p == n_pages - 1 else -1
        if ident is not None and p == 0:
            granule = 0
            body = ident
        else:
            body = b"".join(
                _md5(f"ogg:{seed}:{p}:{i}".encode()).digest()
                for i in range(page_payload // 16 + 1)
            )[:page_payload]
        nseg_full, tail = divmod(len(body), 255)
        lacing = bytes([255] * nseg_full + [tail])
        page = bytearray()
        page += b"OggS\x00"
        page.append(htype)
        page += struct.pack("<q", granule)
        page += struct.pack("<I", serial)
        page += struct.pack("<I", p)
        page += b"\x00\x00\x00\x00"  # CRC placeholder
        page.append(len(lacing))
        page += lacing
        page += body
        crc = _ogg_crc(bytes(page))
        page[22:26] = struct.pack("<I", crc)
        out += page
    return bytes(out)


AUDIO_STREAM_META_SCHEMA = "media_id bigint, container string, " \
    "codec string, channels int, n_units int, sample_rate int, " \
    "duration_ms bigint, vbr boolean, last_granule bigint"


def extract_audio_stream_metadata(df, id_col="media_id", content_col="content"):
    """Header-only stream metadata per blob in one Arrow-batched
    mapInPandas pass: MP3 -> (n_frames, sample_rate, duration_ms,
    vbr), Ogg -> (n_pages, last_granule, plus the first packet's
    ident: codec 'vorbis'/'opus' with channels + declared rate,
    'theora' for video — the distinct quarantine route — 'other'
    otherwise, r13 VERDICT ask #5); a stream its strict parser rejects
    emits the NULL-stats quarantine row with the sniffed container —
    per-format observability with NO audio decode."""
    from etl_tiki_webscraping_spark.operators.multimodal import (
        map_blobs,
        sniff_audio_container,
    )

    def rows(data):
        container = sniff_audio_container(data)
        rec = {"container": container}
        if container == "mp3":
            m = parse_mp3_stream(data)
            if m is not None:
                rec.update(
                    codec="mp3",
                    n_units=m["n_frames"],
                    sample_rate=m["sample_rate"],
                    duration_ms=m["duration_ms"],
                    vbr=m["bitrate_kbps_min"] != m["bitrate_kbps_max"],
                )
        elif container == "ogg":
            o = parse_ogg_stream(data)
            if o is not None:
                rec.update(
                    codec=o["codec"],
                    channels=o["channels"],
                    n_units=o["n_pages"],
                    sample_rate=o["sample_rate"],
                    duration_ms=o["duration_ms"],
                    last_granule=o["last_granule"],
                )
        yield rec

    return map_blobs(df, id_col, content_col, AUDIO_STREAM_META_SCHEMA, rows)


def iter_mp3_frames(content: bytes) -> "list[tuple[int, int, int]] | None":
    """Per-frame walk: [(frame_idx, bitrate_kbps, frame_bytes), ...]
    under the same strict rules as :func:`parse_mp3_stream` (None on
    any malformation) — the 1->N form the UDTF tier exposes."""
    if content is None or len(content) < 4:
        return None
    skip = parse_id3v2_size(content)
    if skip < 0 or skip >= len(content):
        return None
    pos = skip
    rate = None
    out: "list[tuple[int, int, int]]" = []
    while pos < len(content):
        if pos + 4 > len(content):
            return None
        (hdr,) = struct.unpack_from(">I", content, pos)
        if (hdr >> 21) & 0x7FF != 0x7FF or (hdr >> 19) & 3 != 3 \
                or (hdr >> 17) & 3 != 1:
            return None
        br_idx = (hdr >> 12) & 0xF
        sr_idx = (hdr >> 10) & 3
        padding = (hdr >> 9) & 1
        if br_idx in (0, 15) or sr_idx == 3:
            return None
        this_rate = _MP3_RATES[sr_idx]
        if rate is None:
            rate = this_rate
        elif this_rate != rate:
            return None
        kbps = _MP3_BITRATES[br_idx]
        frame_len = (144_000 * kbps) // rate + padding
        if frame_len < 4 or pos + frame_len > len(content):
            return None
        out.append((len(out), kbps, frame_len))
        pos += frame_len
    return out or None


# --------------------------------------------------------------------------
# ID3v2 text frames (round-14 second wave) — the mp3 METADATA story
# --------------------------------------------------------------------------
#
# parse_id3v2_size has always skipped the tag; a crawl also wants what
# is IN it — title/artist/album drive music-content routing and
# near-dup grouping.  Public layout (id3.org): 10-byte tag header
# (version 3 or 4, syncsafe 28-bit size), then frames of 4-char id +
# 4-byte size (v2.3: plain big-endian; v2.4: SYNCSAFE — the classic
# cross-version bug) + 2 flag bytes; text frames (T***) carry an
# encoding byte (0 latin-1, 3 utf-8 supported here) + the value.
# Frames must tile the tag, with zero-byte padding allowed after the
# last frame (the spec's padding region); anything else rejects.


def parse_id3v2_frames(data: bytes) -> "dict | None":
    """``{version, n_frames, title, artist, album}`` from a leading
    ID3v2.3/2.4 tag, or None (no tag / malformed tag / non-tiling
    frames / unsupported text encoding)."""
    if len(data) < 10 or data[:3] != b"ID3":
        return None
    version = data[3]
    if version not in (3, 4):
        return None
    if any(b & 0x80 for b in data[6:10]):
        return None
    size = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
    end = 10 + size
    if end > len(data):
        return None
    pos = 10
    n_frames = 0
    out = {"version": version, "title": None, "artist": None, "album": None}
    while pos < end:
        if data[pos] == 0:  # padding region: must be zeros to the end
            if any(b for b in data[pos:end]):
                return None
            break
        if pos + 10 > end:
            return None
        fid = data[pos : pos + 4]
        # ID3v2 frame ids are exactly A-Z / 0-9 (id3v2.4.0-structure
        # §4); 0x3A-0x40 punctuation between the ranges is rejected
        if not all(0x30 <= b <= 0x39 or 0x41 <= b <= 0x5A for b in fid):
            return None
        if version == 4:
            if any(b & 0x80 for b in data[pos + 4 : pos + 8]):
                return None
            fsize = (
                (data[pos + 4] << 21) | (data[pos + 5] << 14)
                | (data[pos + 6] << 7) | data[pos + 7]
            )
        else:
            fsize = int.from_bytes(data[pos + 4 : pos + 8], "big")
        body_start = pos + 10
        if fsize < 1 or body_start + fsize > end:
            return None
        body = data[body_start : body_start + fsize]
        if fid[:1] == b"T":
            enc = body[0]
            if enc == 0:
                text = body[1:].decode("latin-1")
            elif enc == 3:
                try:
                    text = body[1:].decode("utf-8")
                except UnicodeDecodeError:
                    return None
            else:
                return None  # utf-16 variants out of scope (strict)
            text = text.rstrip("\x00")
            if fid == b"TIT2":
                out["title"] = text
            elif fid == b"TPE1":
                out["artist"] = text
            elif fid == b"TALB":
                out["album"] = text
        n_frames += 1
        pos = body_start + fsize
    if n_frames == 0:
        return None
    out["n_frames"] = n_frames
    return out


def encode_id3v2_tag(
    version: int = 3,
    title: "str | None" = None,
    artist: "str | None" = None,
    album: "str | None" = None,
    padding: int = 0,
    utf8: bool = False,
) -> bytes:
    """Fixture writer: an ID3v2.3 or v2.4 tag with TIT2/TPE1/TALB
    text frames (latin-1 or utf-8), optional zero padding — sizes in
    the version's own convention (v2.4 frames syncsafe)."""
    if version not in (3, 4):
        raise ValueError("version must be 3 or 4")
    frames = bytearray()
    for fid, text in ((b"TIT2", title), (b"TPE1", artist), (b"TALB", album)):
        if text is None:
            continue
        body = (b"\x03" + text.encode()) if utf8 else (
            b"\x00" + text.encode("latin-1")
        )
        n = len(body)
        if version == 4:
            fsize = bytes([
                (n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F,
            ])
        else:
            fsize = n.to_bytes(4, "big")
        frames += fid + fsize + b"\x00\x00" + body
    frames += b"\x00" * padding
    n = len(frames)
    hdr = b"ID3" + bytes([version, 0, 0]) + bytes([
        (n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F,
    ])
    return hdr + bytes(frames)


MP3_ID3_SCHEMA = (
    "media_id bigint, id3_version int, n_frames int, title string, "
    "artist string, album string, n_mp3_frames int"
)


def extract_mp3_id3_tags(df, id_col="media_id", content_col="content"):
    """Per-blob ID3 + frame-walk triage in one Arrow-batched
    mapInPandas pass: tag fields plus the strict MP3 frame count of
    the audio that follows the tag; a blob whose tag OR stream rejects
    emits the NULL quarantine row."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        tag = parse_id3v2_frames(data) if data else None
        stream = parse_mp3_stream(data) if data else None
        if tag is None or stream is None:
            yield {}
            return
        yield {
            "id3_version": tag["version"],
            "n_frames": tag["n_frames"],
            "title": tag["title"], "artist": tag["artist"],
            "album": tag["album"],
            "n_mp3_frames": stream["n_frames"],
        }

    return map_blobs(df, id_col, content_col, MP3_ID3_SCHEMA, rows)
