"""TFRecord / tf.Example TRIAGE (round-15): the record format the
TensorFlow training stack ships — and the LAST major shard container
the engine was missing next to tar/WebDataset and .jsonl.gz.  Both
layers are PUBLIC specifications:

- **TFRecord framing**: per record ``length (uint64 LE) +
  masked_crc32c(length_bytes) (uint32 LE) + data +
  masked_crc32c(data) (uint32 LE)``, where CRC32C is the Castagnoli
  polynomial (reflected 0x82F63B78) and the mask is
  ``((crc >> 15) | (crc << 17)) + 0xa282ead8 (mod 2^32)``.
- **tf.Example payloads**: protobuf wire format (varint / 64-bit /
  length-delimited / 32-bit field keys), message shape
  ``Example{ Features features = 1 }``, ``Features{ map<string,
  Feature> feature = 1 }`` (map entries = repeated messages with
  ``key = 1`` string / ``value = 2``), ``Feature`` a oneof of
  ``BytesList = 1`` / ``FloatList = 2`` / ``Int64List = 3`` whose
  lists are packed (floats) or length-delimited (int64 varints,
  bytes entries).

Quarantine granularity follows what each failure makes trustworthy:

- a corrupt DATA crc leaves the framing intact (length crc verified
  first), so the walk continues — that RECORD row quarantines
  (``valid = false``, NULL features) while its neighbors survive;
- a corrupt LENGTH crc means the length itself cannot be trusted, so
  the walk cannot continue — the whole file quarantines as the
  single ``record_idx = -1`` row (same for truncation / trailing
  garbage — the strict-tiling rule).

Spark-side shape: one Arrow-batched 1->N mapInPandas expansion,
blobs never shuffle; everything downstream of the scan is JVM-side.
Fixture encoders live here too (no TensorFlow in the container, and
the house convention builds codec fixtures from arithmetic so the
DuckDB oracle replays every extracted value); the encoder and the
parser are written against the spec independently — the parser never
calls the encoder.
"""

from __future__ import annotations

import struct

# --------------------------------------------------------------------------
# CRC32C (Castagnoli) — reflected polynomial 0x82F63B78, computed with
# the public slicing-by-8 technique (8 table lookups per 8 input bytes
# instead of 8 shifts+lookups per byte: ~6x fewer Python-loop
# iterations, which matters because this runs inside the Arrow kernel
# on every payload byte of every record)
# --------------------------------------------------------------------------

_CRC_T = [[0] * 256 for _ in range(8)]
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_T[0][_i] = _c
for _k in range(1, 8):
    for _i in range(256):
        _p = _CRC_T[_k - 1][_i]
        _CRC_T[_k][_i] = _CRC_T[0][_p & 0xFF] ^ (_p >> 8)


def crc32c(data: bytes) -> int:
    t0, t1, t2, t3, t4, t5, t6, t7 = _CRC_T
    c = 0xFFFFFFFF
    n = len(data)
    i = 0
    while n - i >= 8:
        c ^= int.from_bytes(data[i : i + 4], "little")
        c = (
            t7[c & 0xFF]
            ^ t6[(c >> 8) & 0xFF]
            ^ t5[(c >> 16) & 0xFF]
            ^ t4[(c >> 24) & 0xFF]
            ^ t3[data[i + 4]]
            ^ t2[data[i + 5]]
            ^ t1[data[i + 6]]
            ^ t0[data[i + 7]]
        )
        i += 8
    while i < n:
        c = (c >> 8) ^ t0[(c ^ data[i]) & 0xFF]
        i += 1
    return c ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# --------------------------------------------------------------------------
# protobuf wire-format walk (decode side)
# --------------------------------------------------------------------------


def _read_varint(data: bytes, pos: int) -> "tuple[int, int] | None":
    out = 0
    shift = 0
    while pos < len(data):
        b = data[pos]
        out |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 63:
            return None
    return None


def _walk_fields(data: bytes):
    """Yield (field_number, wire_type, value) over one message; value
    is int for varint/fixed, bytes for length-delimited.  Raises
    ValueError on malformation."""
    pos = 0
    n = len(data)
    while pos < n:
        r = _read_varint(data, pos)
        if r is None:
            raise ValueError("bad key varint")
        key, pos = r
        fnum, wt = key >> 3, key & 0x7
        if wt == 0:
            r = _read_varint(data, pos)
            if r is None:
                raise ValueError("bad varint")
            val, pos = r
        elif wt == 1:
            if pos + 8 > n:
                raise ValueError("bad fixed64")
            val = struct.unpack_from("<Q", data, pos)[0]
            pos += 8
        elif wt == 2:
            r = _read_varint(data, pos)
            if r is None:
                raise ValueError("bad length")
            ln, pos = r
            if pos + ln > n:
                raise ValueError("length overruns")
            val = data[pos : pos + ln]
            pos += ln
        elif wt == 5:
            if pos + 4 > n:
                raise ValueError("bad fixed32")
            val = struct.unpack_from("<I", data, pos)[0]
            pos += 4
        else:
            raise ValueError(f"wire type {wt}")
        yield fnum, wt, val


def parse_tf_example(data: bytes) -> "dict[str, dict] | None":
    """tf.Example -> ``{name: {kind, values}}`` with kind one of
    'bytes'/'float'/'int64'; None on any wire malformation.  Floats
    decode from packed fixed32 (IEEE float32 -> Python float exactly);
    int64 lists decode from the length-delimited packed varint form."""
    try:
        feats: "dict[str, dict]" = {}
        features_msgs = [
            v for f, wt, v in _walk_fields(data) if f == 1 and wt == 2
        ]
        for fm in features_msgs:
            for f, wt, entry in _walk_fields(fm):
                if f != 1 or wt != 2:
                    continue  # unknown field: skip (proto contract)
                name = None
                feature = None
                for ef, ewt, ev in _walk_fields(entry):
                    if ef == 1 and ewt == 2:
                        name = ev.decode("utf-8", "replace")
                    elif ef == 2 and ewt == 2:
                        feature = ev
                if name is None or feature is None:
                    return None
                kind = None
                values: list = []
                for ff, fwt, fv in _walk_fields(feature):
                    if ff == 1 and fwt == 2:  # BytesList
                        kind = "bytes"
                        values = [
                            v for g, gwt, v in _walk_fields(fv)
                            if g == 1 and gwt == 2
                        ]
                    elif ff == 2 and fwt == 2:  # FloatList (packed)
                        kind = "float"
                        for g, gwt, gv in _walk_fields(fv):
                            if g == 1 and gwt == 2:
                                if len(gv) % 4:
                                    return None
                                values = [
                                    struct.unpack_from("<f", gv, i)[0]
                                    for i in range(0, len(gv), 4)
                                ]
                    elif ff == 3 and fwt == 2:  # Int64List (packed)
                        kind = "int64"
                        for g, gwt, gv in _walk_fields(fv):
                            if g == 1 and gwt == 2:
                                vals = []
                                p = 0
                                while p < len(gv):
                                    r = _read_varint(gv, p)
                                    if r is None:
                                        return None
                                    v, p = r
                                    # two's-complement fold: a legal
                                    # negative int64 (e.g. label -1)
                                    # arrives as a 10-byte varint and
                                    # must NOT surface as 2^64-1 —
                                    # the Arrow int64 conversion then
                                    # overflows and kills the query
                                    # on a valid shard (ADVICE r15)
                                    v &= (1 << 64) - 1
                                    if v >= 1 << 63:
                                        v -= 1 << 64
                                    vals.append(v)
                                values = vals
                if kind is None:
                    return None
                feats[name] = {"kind": kind, "values": values}
        return feats
    except ValueError:
        return None


# --------------------------------------------------------------------------
# encode side (fixtures — spec-independent of the parser above)
# --------------------------------------------------------------------------


def _varint(x: int) -> bytes:
    # negative int64s encode as the 10-byte two's-complement varint
    # (proto wire contract); without the mask the shift loop below
    # never terminates on a negative input (ADVICE r15)
    if x < 0:
        x &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = x & 0x7F
        x >>= 7
        if x:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ld(fnum: int, payload: bytes) -> bytes:
    return _varint((fnum << 3) | 2) + _varint(len(payload)) + payload


def encode_tf_example(features: "dict[str, tuple[str, list]]") -> bytes:
    """Encode ``{name: (kind, values)}`` as a tf.Example message."""
    entries = b""
    for name, (kind, values) in features.items():
        if kind == "bytes":
            inner = b"".join(_ld(1, v) for v in values)
            feature = _ld(1, inner)
        elif kind == "float":
            packed = b"".join(struct.pack("<f", v) for v in values)
            feature = _ld(2, _ld(1, packed))
        elif kind == "int64":
            packed = b"".join(_varint(v) for v in values)
            feature = _ld(3, _ld(1, packed))
        else:
            raise ValueError(kind)
        entries += _ld(1, _ld(1, name.encode()) + _ld(2, feature))
    return _ld(1, entries)


def frame_tfrecord(payload: bytes) -> bytes:
    """One TFRecord frame: length + masked length crc + data + masked
    data crc."""
    ln = struct.pack("<Q", len(payload))
    return (
        ln
        + struct.pack("<I", masked_crc32c(ln))
        + payload
        + struct.pack("<I", masked_crc32c(payload))
    )


def example_fixture_features(
    file_id: int, rec: int
) -> "dict[str, tuple[str, list]]":
    """The fixture's per-record features, pure arithmetic so the
    oracle replays every value: an image blob (length only is
    observed), an int64 label, a float32 weight on the exact 0.25
    grid (bit-identical through float32->double), and an int64 token
    list."""
    d, i = file_id, rec
    img_len = 40 + (d + i) % 60
    return {
        "image": ("bytes", [bytes((d + i + j) % 256 for j in range(img_len))]),
        "label": ("int64", [d * 10 + i % 5]),
        "weight": ("float", [(i % 8) / 4.0]),
        "tokens": ("int64", [100 + (d + i + j) % 50 for j in range(2 + i % 3)]),
    }


def encode_tfrecord_file(
    file_id: int,
    n_records: int,
    corrupt_data_crc_at: "int | None" = None,
    corrupt_length_crc_at: "int | None" = None,
    truncate: int = 0,
) -> bytes:
    """Fixture shard: ``n_records`` framed tf.Examples; optionally
    flip a data crc (record-level quarantine), a length crc
    (file-level quarantine), or drop trailing bytes (file-level)."""
    frames = []
    for i in range(n_records):
        frame = bytearray(
            frame_tfrecord(encode_tf_example(example_fixture_features(file_id, i)))
        )
        if corrupt_data_crc_at == i:
            frame[-1] ^= 0xFF
        if corrupt_length_crc_at == i:
            frame[8] ^= 0xFF
        frames.append(bytes(frame))
    out = b"".join(frames)
    return out[: len(out) - truncate] if truncate else out


# --------------------------------------------------------------------------
# Spark scan
# --------------------------------------------------------------------------

TFRECORD_SCAN_SCHEMA = (
    "file_id bigint, record_idx int, valid boolean, n_features int, "
    "feature_names string, label bigint, weight double, "
    "tokens_sum bigint, n_tokens int, image_len bigint"
)


def parse_tfrecord_file(data: "bytes | None") -> "list[dict] | None":
    """Walk the framing: list of ``{valid, example|None}`` per record,
    or None when the file itself cannot be walked (bad length crc,
    truncation, trailing bytes)."""
    if data is None:
        return None
    recs: "list[dict]" = []
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 12 > n:
            return None
        ln_bytes = data[pos : pos + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (ln_crc,) = struct.unpack_from("<I", data, pos + 8)
        if ln_crc != masked_crc32c(ln_bytes):
            return None  # length untrustworthy: cannot keep walking
        body_start = pos + 12
        body_end = body_start + ln
        if body_end + 4 > n:
            return None
        payload = data[body_start:body_end]
        (d_crc,) = struct.unpack_from("<I", data, body_end)
        if d_crc != masked_crc32c(payload):
            recs.append({"valid": False, "example": None})
        else:
            ex = parse_tf_example(payload)
            recs.append({"valid": ex is not None, "example": ex})
        pos = body_end + 4
    return recs or None


def scan_tfrecord_examples(df, id_col="file_id", content_col="content"):
    """TFRecord shard -> per-record feature rows in one Arrow-batched
    1->N mapInPandas expansion (see module docstring for the two
    quarantine granularities).  Blobs never shuffle."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        recs = parse_tfrecord_file(data)
        if recs is None:
            yield {"record_idx": -1, "valid": False}
            return
        for idx, rec in enumerate(recs):
            ex = rec["example"]
            row = {"record_idx": idx, "valid": bool(rec["valid"]) and ex is not None}
            if ex is not None:
                toks = ex.get("tokens", {}).get("values", [])
                lab = ex.get("label", {}).get("values", [])
                wt = ex.get("weight", {}).get("values", [])
                img = ex.get("image", {}).get("values", [])
                row.update(
                    n_features=len(ex),
                    feature_names=",".join(sorted(ex)),
                    label=int(lab[0]) if lab else None,
                    weight=float(wt[0]) if wt else None,
                    tokens_sum=int(sum(toks)) if toks else None,
                    n_tokens=len(toks) if toks else None,
                    image_len=len(img[0]) if img else None,
                )
            yield row

    return map_blobs(df, id_col, content_col, TFRECORD_SCAN_SCHEMA, rows)
