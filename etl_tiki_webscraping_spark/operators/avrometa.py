"""Avro Object Container File record scan (round-15): the data-lake
interchange format every ingestion bus (Kafka dumps, Sqoop-era lake
landings, schema-registry pipelines) ships — completing the shard
container family next to TFRecord, tar/WebDataset and .jsonl.gz.
Everything here is the PUBLIC Avro 1.11 spec:

- magic ``Obj\\x01``; file metadata as an Avro map<string, bytes>
  (block count = zigzag-varint long, then len-prefixed key/value
  pairs, terminated by a 0 count) carrying ``avro.schema`` (JSON)
  and ``avro.codec``; a 16-byte sync marker;
- data blocks: record count (long), byte size (long), the serialized
  records (raw-deflate-compressed when codec=deflate, wbits=-15),
  then the sync marker which MUST equal the header's;
- record encoding for the fixture schema
  ``record Doc { long id; string text; }``: zigzag-varint long +
  (zigzag length + utf-8 bytes).

Strictness (the house quarantine contract): blocks must tile exactly
to EOF, every block's sync marker must match, a deflate block must
decompress to a clean EOF, and each block's records must consume the
block's bytes EXACTLY with the declared count — any violation
rejects the whole file into the single ``rec_idx = -1`` quarantine
row (a half-written container is never half-ingested).  Strict
SUBSET by design: negative block counts (the spec's optional
size-prefixed form) and codecs beyond null/deflate reject rather
than parse wrong (the ZIP64 posture).

Spark-side shape: one Arrow-batched 1->N mapInPandas expansion,
blobs never shuffle.  The encoder half is fixture/oracle scaffolding
written against the spec independently of the parser.
"""

from __future__ import annotations

import json
import zlib

_MAGIC = b"Obj\x01"

FIXTURE_SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "text", "type": "string"},
    ],
}


# --------------------------------------------------------------------------
# zigzag varint longs (both directions, independent implementations)
# --------------------------------------------------------------------------


def _zz_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zz_decode(data: bytes, pos: int) -> "tuple[int, int] | None":
    u = 0
    shift = 0
    while pos < len(data):
        b = data[pos]
        u |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return (u >> 1) ^ -(u & 1), pos
        shift += 7
        if shift > 63:
            return None
    return None


def _read_bytes(data: bytes, pos: int) -> "tuple[bytes, int] | None":
    r = _zz_decode(data, pos)
    if r is None:
        return None
    ln, pos = r
    if ln < 0 or pos + ln > len(data):
        return None
    return data[pos : pos + ln], pos + ln


# --------------------------------------------------------------------------
# parse side
# --------------------------------------------------------------------------


def parse_avro_records(data: "bytes | None") -> "dict | None":
    """Strict OCF walk: ``{codec, schema_name, records: [(id, text),
    ...]}`` or None on any malformation (see module docstring)."""
    if data is None or len(data) < 4 or data[:4] != _MAGIC:
        return None
    pos = 4
    meta: "dict[str, bytes]" = {}
    while True:
        r = _zz_decode(data, pos)
        if r is None:
            return None
        count, pos = r
        if count == 0:
            break
        if count < 0:
            return None  # size-prefixed map blocks: strict subset
        for _ in range(count):
            r = _read_bytes(data, pos)
            if r is None:
                return None
            key, pos = r
            r = _read_bytes(data, pos)
            if r is None:
                return None
            val, pos = r
            meta[key.decode("utf-8", "replace")] = val
    if pos + 16 > len(data):
        return None
    sync = data[pos : pos + 16]
    pos += 16
    codec = meta.get("avro.codec", b"null").decode("ascii", "replace")
    if codec not in ("null", "deflate"):
        return None
    try:
        schema = json.loads(meta.get("avro.schema", b"null"))
    except ValueError:
        return None
    if not isinstance(schema, dict) or schema.get("type") != "record":
        return None
    fields = [f.get("name") for f in schema.get("fields", [])]
    if fields != ["id", "text"]:
        return None  # fixture schema only — anything else quarantines
    records: "list[tuple[int, str]]" = []
    while pos < len(data):
        r = _zz_decode(data, pos)
        if r is None:
            return None
        n_recs, pos = r
        if n_recs <= 0:
            return None
        r = _zz_decode(data, pos)
        if r is None:
            return None
        size, pos = r
        if size < 0 or pos + size + 16 > len(data):
            return None
        payload = data[pos : pos + size]
        pos += size
        if data[pos : pos + 16] != sync:
            return None
        pos += 16
        if codec == "deflate":
            d = zlib.decompressobj(wbits=-15)
            try:
                payload = d.decompress(payload)
            except zlib.error:
                return None
            if d.unused_data:
                return None
        p = 0
        for _ in range(n_recs):
            r = _zz_decode(payload, p)
            if r is None:
                return None
            rid, p = r
            r = _read_bytes(payload, p)
            if r is None:
                return None
            text, p = r
            records.append((rid, text.decode("utf-8", "replace")))
        if p != len(payload):
            return None  # records must consume the block exactly
    return {
        "codec": codec,
        "schema_name": schema.get("name"),
        "records": records,
    }


# --------------------------------------------------------------------------
# encode side (fixtures)
# --------------------------------------------------------------------------


def avro_fixture_text(file_id: int, rec: int) -> str:
    return f"avro doc {file_id * 100 + rec} é tok{(file_id + rec) % 50}"


def encode_avro_file(
    file_id: int,
    n_records: int,
    codec: str = "null",
    records_per_block: int = 2,
    truncate: int = 0,
) -> bytes:
    """Fixture OCF: records ``(id = file_id*100 + i,
    avro_fixture_text)`` split into blocks of ``records_per_block``;
    deterministic sync marker from file_id arithmetic."""

    def _string(s: str) -> bytes:
        b = s.encode("utf-8")
        return _zz_encode(len(b)) + b

    sync = bytes((file_id * 7 + j) % 256 for j in range(16))
    meta_pairs = {
        "avro.schema": json.dumps(FIXTURE_SCHEMA).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(_MAGIC)
    out += _zz_encode(len(meta_pairs))
    for k, v in meta_pairs.items():
        out += _zz_encode(len(k)) + k.encode()
        out += _zz_encode(len(v)) + v
    out += _zz_encode(0)
    out += sync
    for start in range(0, n_records, records_per_block):
        block_ids = range(start, min(start + records_per_block, n_records))
        payload = b"".join(
            _zz_encode(file_id * 100 + i) + _string(avro_fixture_text(file_id, i))
            for i in block_ids
        )
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        out += _zz_encode(len(block_ids))
        out += _zz_encode(len(payload))
        out += payload
        out += sync
    return bytes(out[: len(out) - truncate]) if truncate else bytes(out)


# --------------------------------------------------------------------------
# Spark scan
# --------------------------------------------------------------------------

AVRO_SCAN_SCHEMA = (
    "file_id bigint, rec_idx int, rec_id bigint, text string, "
    "codec string"
)


def scan_avro_records(df, id_col="file_id", content_col="content"):
    """OCF blob -> per-record rows in one Arrow-batched 1->N
    mapInPandas expansion; a blob the strict walk rejects emits the
    single ``rec_idx = -1`` quarantine row.  Blobs never shuffle."""
    from etl_tiki_webscraping_spark.operators.multimodal import map_blobs

    def rows(data):
        meta = parse_avro_records(data)
        if meta is None:
            yield {"rec_idx": -1}
            return
        for idx, (rid, text) in enumerate(meta["records"]):
            yield {"rec_idx": idx, "rec_id": rid, "text": text, "codec": meta["codec"]}

    return map_blobs(df, id_col, content_col, AVRO_SCAN_SCHEMA, rows)
