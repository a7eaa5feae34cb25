"""WebM / Matroska (EBML) container TRIAGE — header-only element walk
(round-14, completing the web-video container family next to the MP4
box walk and the MJPEG-AVI leg): duration, track count, per-track
codec IDs, and video/audio parameters from the PUBLIC EBML layout
(RFC 8794) and Matroska element IDs, with zero payload decode.

EBML primer: every element is (variable-length ID, variable-length
size, payload).  A VINT's first byte's leading-zero count gives its
width; the size strips the marker bit, the ID keeps it.  Structure
walked here: EBML header (0x1A45DFA3, DocType) then Segment
(0x18538067) containing Info (0x1549A966: TimestampScale 0x2AD7B1,
Duration 0x4489 float) and Tracks (0x1654AE6B: TrackEntry 0xAE with
TrackType 0x83, CodecID 0x86, Video 0xE0 {PixelWidth 0xB0,
PixelHeight 0xBA}, Audio 0xE1 {Channels 0x9F}).

STRICT: elements must tile their parent exactly at every level,
unknown-size (all-ones VINT) elements are rejected — a streamed
Matroska with an open-ended Segment quarantines rather than guessing
(the GIF truncation rule).  Duration is Matroska's float-in-
timestamp-scale-units; the fixture writes integer-valued doubles and
integer-ratio scales so ``duration_ms`` replays exactly in SQL.

Spark-side shape: one Arrow-batched 1->1 mapInPandas pass
(:func:`extract_webm_metadata`), blobs never shuffle.
"""

from __future__ import annotations

import struct
from hashlib import md5 as _md5

_EBML = 0x1A45DFA3
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TRACKS = 0x1654AE6B


def _read_vint(data: bytes, pos: int, keep_marker: bool) -> "tuple[int, int] | None":
    """(value, new_pos) or None; rejects the unknown-size all-ones
    pattern when reading sizes (keep_marker=False)."""
    if pos >= len(data):
        return None
    first = data[pos]
    if first == 0:
        return None
    width = 8 - first.bit_length() + 1
    if pos + width > len(data):
        return None
    value = first if keep_marker else first & (0xFF >> width)
    for i in range(1, width):
        value = (value << 8) | data[pos + i]
    if not keep_marker:
        # all data bits set = "unknown size" — rejected (strict)
        if value == (1 << (7 * width)) - 1:
            return None
    return value, pos + width


def _walk(data: bytes, start: int, end: int):
    """Yield (element_id, payload_start, payload_end) tiling
    [start, end); raises ValueError on malformation."""
    pos = start
    while pos < end:
        r = _read_vint(data, pos, keep_marker=True)
        if r is None:
            raise ValueError("bad element id")
        eid, pos = r
        r = _read_vint(data, pos, keep_marker=False)
        if r is None:
            raise ValueError("bad element size")
        size, pos = r
        if pos + size > end:
            raise ValueError("element overruns parent")
        yield eid, pos, pos + size
        pos += size
    if pos != end:
        raise ValueError("elements do not tile parent")


def _child(data: bytes, start: int, end: int, eid: int):
    for e, s, p in _walk(data, start, end):
        if e == eid:
            return s, p
    return None


def _uint(data: bytes, s: int, e: int) -> int:
    v = 0
    for b in data[s:e]:
        v = (v << 8) | b
    return v


def _float(data: bytes, s: int, e: int) -> "float | None":
    n = e - s
    if n == 4:
        return struct.unpack(">f", data[s:e])[0]
    if n == 8:
        return struct.unpack(">d", data[s:e])[0]
    return None


def parse_webm(content: bytes) -> "dict | None":
    """Strict header-only EBML parse: ``{doc_type, timestamp_scale,
    duration_ms, n_tracks, codecs, video_w, video_h, audio_channels}``
    or None."""
    if content is None or len(content) < 8:
        return None
    try:
        top = list(_walk(content, 0, len(content)))
        if len(top) < 2 or top[0][0] != _EBML or top[1][0] != _SEGMENT:
            return None
        doc_type = None
        for eid, s, e in _walk(content, top[0][1], top[0][2]):
            if eid == 0x4282:
                doc_type = content[s:e].decode("ascii", "replace")
        if doc_type not in ("webm", "matroska"):
            return None
        seg_s, seg_e = top[1][1], top[1][2]
        info = _child(content, seg_s, seg_e, _INFO)
        tracks = _child(content, seg_s, seg_e, _TRACKS)
        if info is None or tracks is None:
            return None
        ts_scale = 1_000_000  # Matroska default (ns per tick)
        duration = None
        for eid, s, e in _walk(content, info[0], info[1]):
            if eid == 0x2AD7B1:
                ts_scale = _uint(content, s, e)
            elif eid == 0x4489:
                duration = _float(content, s, e)
                if duration is None:
                    return None
        if ts_scale == 0:
            return None
        codecs: "list[str]" = []
        video_w = video_h = audio_channels = None
        for eid, s, e in _walk(content, tracks[0], tracks[1]):
            if eid != 0xAE:
                continue
            codec = None
            for teid, ts_, te in _walk(content, s, e):
                if teid == 0x86:
                    codec = content[ts_:te].decode("ascii", "replace")
                elif teid == 0xE0 and video_w is None:
                    for veid, vs, ve in _walk(content, ts_, te):
                        if veid == 0xB0:
                            video_w = _uint(content, vs, ve)
                        elif veid == 0xBA:
                            video_h = _uint(content, vs, ve)
                elif teid == 0xE1 and audio_channels is None:
                    for aeid, as_, ae in _walk(content, ts_, te):
                        if aeid == 0x9F:
                            audio_channels = _uint(content, as_, ae)
            if codec is None:
                return None
            codecs.append(codec)
        if not codecs:
            return None
        duration_ms = None
        if duration is not None:
            # float ticks x ns-per-tick -> ms; fixtures use
            # integer-valued doubles and integer-ratio scales so this
            # is exact integer arithmetic on both engines
            duration_ms = int(duration * ts_scale / 1_000_000)
        return {
            "doc_type": doc_type,
            "timestamp_scale": ts_scale,
            "duration_ms": duration_ms,
            "n_tracks": len(codecs),
            "codecs": ",".join(codecs),
            "video_w": video_w,
            "video_h": video_h,
            "audio_channels": audio_channels,
        }
    except ValueError:
        return None


def sniff_ebml(content: "bytes | None") -> bool:
    return content is not None and content[:4] == b"\x1a\x45\xdf\xa3"


# --------------------------------------------------------------------------
# fixture writer
# --------------------------------------------------------------------------


def _vint_size(value: int) -> bytes:
    """Encode a size VINT in the smallest width."""
    for width in range(1, 9):
        if value < (1 << (7 * width)) - 1:
            marker = 1 << (8 - width)
            out = bytearray(width)
            v = value
            for i in range(width - 1, 0, -1):
                out[i] = v & 0xFF
                v >>= 8
            out[0] = marker | v
            return bytes(out)
    raise ValueError("size too large")


def _eid(eid: int) -> bytes:
    n = (eid.bit_length() + 7) // 8
    return eid.to_bytes(n, "big")


def _el(eid: int, payload: bytes) -> bytes:
    return _eid(eid) + _vint_size(len(payload)) + payload


def _uint_el(eid: int, v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return _el(eid, v.to_bytes(n, "big"))


def encode_webm_stub(
    doc_type: str = "webm",
    timestamp_scale: int = 1_000_000,
    duration: "int | None" = 5000,
    tracks: "list[dict] | None" = None,
    seed: int = 0,
    cluster_bytes: int = 48,
) -> bytes:
    """Fixture writer: EBML header + Segment(Info + Tracks [+ one
    Cluster of md5 junk]).  ``duration`` is written as an
    INTEGER-VALUED 8-byte float (exact in IEEE and in SQL replay);
    tracks are dicts: ``{type: 'video'|'audio', codec: str, w, h,
    channels}``."""
    if tracks is None:
        tracks = [{"type": "video", "codec": "V_VP9", "w": 640, "h": 360}]
    ebml = _el(_EBML, b"".join([
        _uint_el(0x4286, 1),            # EBMLVersion
        _uint_el(0x42F7, 1),            # EBMLReadVersion
        _uint_el(0x42F2, 4),            # EBMLMaxIDLength
        _uint_el(0x42F3, 8),            # EBMLMaxSizeLength
        _el(0x4282, doc_type.encode()),  # DocType
        _uint_el(0x4287, 2),            # DocTypeVersion
        _uint_el(0x4285, 2),            # DocTypeReadVersion
    ]))
    info_parts = [_uint_el(0x2AD7B1, timestamp_scale)]
    if duration is not None:
        info_parts.append(_el(0x4489, struct.pack(">d", float(duration))))
    info = _el(_INFO, b"".join(info_parts))
    entries = []
    for ti, t in enumerate(tracks, 1):
        parts = [
            _uint_el(0xD7, ti),  # TrackNumber
            _uint_el(0x73C5, 1000 + ti),  # TrackUID
            _uint_el(0x83, 1 if t["type"] == "video" else 2),
            _el(0x86, t["codec"].encode()),
        ]
        if t["type"] == "video":
            parts.append(_el(0xE0, _uint_el(0xB0, t["w"]) + _uint_el(0xBA, t["h"])))
        else:
            parts.append(_el(0xE1, _uint_el(0x9F, t.get("channels", 2))))
        entries.append(_el(0xAE, b"".join(parts)))
    tracks_el = _el(_TRACKS, b"".join(entries))
    junk = b"".join(
        _md5(f"mkv:{seed}:{i}".encode()).digest()
        for i in range(cluster_bytes // 16 + 1)
    )[:cluster_bytes]
    cluster = _el(0x1F43B675, _uint_el(0xE7, 0) + _el(0xA3, junk))
    segment = _el(_SEGMENT, info + tracks_el + cluster)
    return ebml + segment


WEBM_META_SCHEMA = (
    "media_id bigint, is_ebml boolean, doc_type string, "
    "duration_ms bigint, n_tracks int, codecs string, "
    "video_w int, video_h int, audio_channels int"
)


def extract_webm_metadata(df, id_col="media_id", content_col="content"):
    """Per-blob WebM/Matroska triage in one Arrow-batched mapInPandas
    pass; a blob the strict walk rejects emits the NULL-stats
    quarantine row with the EBML-magic sniff."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        meta = parse_webm(data)
        rec = {"is_ebml": sniff_ebml(data)}
        if meta is not None:
            rec.update(
                doc_type=meta["doc_type"],
                duration_ms=meta["duration_ms"],
                n_tracks=meta["n_tracks"],
                codecs=meta["codecs"],
                video_w=meta["video_w"],
                video_h=meta["video_h"],
                audio_channels=meta["audio_channels"],
            )
        yield rec

    return map_blobs(df, id_col, content_col, WEBM_META_SCHEMA, rows)
