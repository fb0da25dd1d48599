"""From-scratch Apache Avro Object Container File codec (r05 wave 35)
— the last big-data interchange format the repo did not speak, built
the way WAV / PNG / MVT / TIFF / TFRecord were: from the PUBLIC spec
only (Apache Avro 1.11 specification, "Binary encoding" + "Object
Container Files"; no avro library exists in this container).

Binary encoding (spec §Binary Encoding):
    int/long   zigzag        ((n << 1) ^ (n >> 63)) as base-128 varint
    double     8 bytes IEEE-754 little-endian
    boolean    1 byte (0/1)
    string     long(byte length) + UTF-8 bytes
    bytes      long(length) + raw bytes
    null       zero bytes
    record     concatenation of its fields in schema order
    map        blocks: long(count) k/v pairs ... long(0) terminator

Container layout (spec §Object Container Files):
    magic 'Obj\\x01'
  | file-metadata map ('avro.schema' = schema JSON,
                       'avro.codec'  = 'null' | 'deflate')
  | 16-byte sync marker
  | data blocks: long(record count), long(serialized size),
                 records (deflate codec = RFC 1951 RAW deflate,
                 no zlib header), sync marker

The sync marker here is DETERMINISTIC (md5 of the schema JSON) so
shard bytes are a pure function of their rows — the repeatable-export
property every sink in this repo keeps.

Supported field types: long, int, double, boolean, string, bytes,
and the nullable union ["null", T] (branch index as long). That set
covers every harness table column.
"""

from __future__ import annotations

import hashlib
import json
import struct
import zlib

MAGIC = b"Obj\x01"


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def write_long(buf: bytearray, n: int) -> None:
    u = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _write_value(buf: bytearray, typ, v) -> None:
    if isinstance(typ, list):  # nullable union ["null", T]
        if v is None:
            write_long(buf, typ.index("null"))
            return
        branch = 1 if typ[0] == "null" else 0
        write_long(buf, branch)
        _write_value(buf, typ[branch], v)
    elif typ in ("long", "int"):
        write_long(buf, int(v))
    elif typ == "double":
        buf.extend(struct.pack("<d", float(v)))
    elif typ == "boolean":
        buf.append(1 if v else 0)
    elif typ == "string":
        raw = v.encode("utf-8")
        write_long(buf, len(raw))
        buf.extend(raw)
    elif typ == "bytes":
        write_long(buf, len(v))
        buf.extend(v)
    else:
        raise NotImplementedError(f"avro type {typ!r}")


def _field_type(field: dict):
    return field["type"]


def encode_records(schema: dict, records) -> bytes:
    """Serialize dict records under a record schema (fields in schema
    order, per the spec: a record is just its fields concatenated)."""
    buf = bytearray()
    fields = schema["fields"]
    for rec in records:
        for fld in fields:
            _write_value(buf, _field_type(fld), rec[fld["name"]])
    return bytes(buf)


def _sync_marker(schema_json: str) -> bytes:
    return hashlib.md5(schema_json.encode("utf-8")).digest()


def write_avro(path: str, schema: dict, records, codec: str = "null",
               block_records: int = 1000) -> None:
    """Write an Object Container File: header, then one data block per
    ``block_records`` slice (real files carry many blocks — the reader
    must walk the block chain, so the fixture does too)."""
    schema_json = json.dumps(schema, sort_keys=True, separators=(",", ":"))
    sync = _sync_marker(schema_json)
    out = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode("utf-8"),
            "avro.codec": codec.encode("utf-8")}
    write_long(out, len(meta))
    for k in sorted(meta):
        kb = k.encode("utf-8")
        write_long(out, len(kb))
        out.extend(kb)
        write_long(out, len(meta[k]))
        out.extend(meta[k])
    write_long(out, 0)  # metadata map terminator
    out.extend(sync)
    records = list(records)
    for i in range(0, len(records), block_records):
        chunk = records[i:i + block_records]
        payload = encode_records(schema, chunk)
        if codec == "deflate":
            # spec: RFC 1951 raw deflate, no zlib header/checksum
            payload = zlib.compress(payload, 6)[2:-4]
        elif codec != "null":
            raise NotImplementedError(f"avro codec {codec!r}")
        write_long(out, len(chunk))
        write_long(out, len(payload))
        out.extend(payload)
        out.extend(sync)
    with open(path, "wb") as fh:
        fh.write(out)


def _read_long_at(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint long at ``buf[pos]`` -> (value, next pos).  A
    (buffer, offset) cursor, not a file object: a BytesIO reader pays a
    method call PER BYTE of every varint — ~2M calls per 100k-record
    file; indexing a bytes object is ~10x cheaper (r06)."""
    u = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return (u >> 1) ^ -(u & 1), pos
        shift += 7


def _read_value_at(buf: bytes, pos: int, typ):
    """One value of Avro type ``typ`` at ``buf[pos]`` -> (value, next
    pos): the inverse of _write_value's spec dispatch."""
    if isinstance(typ, list):
        branch, pos = _read_long_at(buf, pos)
        b = typ[branch]
        return (None, pos) if b == "null" else _read_value_at(buf, pos, b)
    if typ in ("long", "int"):
        return _read_long_at(buf, pos)
    if typ == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if typ == "boolean":
        return buf[pos] == 1, pos + 1
    if typ == "string":
        n, pos = _read_long_at(buf, pos)
        return buf[pos:pos + n].decode("utf-8"), pos + n
    if typ == "bytes":
        n, pos = _read_long_at(buf, pos)
        return bytes(buf[pos:pos + n]), pos + n
    raise NotImplementedError(f"avro type {typ!r}")


def read_avro(blob: bytes):
    """Parse an Object Container File -> (schema dict, list of dict
    records).  Verifies magic and every block's sync marker.

    r06: decode runs on a (buffer, offset) cursor instead of BytesIO
    (per-byte .read(1) calls dominated), and a NEGATIVE map/array
    block count now consumes the spec-mandated byte-size long that
    follows it (ADVICE r05: files from other writers commonly emit
    negative counts; our own writer never does, so results over our
    fixtures are unchanged)."""
    if blob[:4] != MAGIC:
        raise ValueError("not an avro object container file")
    pos = 4
    meta = {}
    while True:
        count, pos = _read_long_at(blob, pos)
        if count == 0:
            break
        if count < 0:
            # spec: a negative count is followed by the block's byte
            # size (which readers may use to skip); consume it
            _size, pos = _read_long_at(blob, pos)
        for _ in range(abs(count)):
            n, pos = _read_long_at(blob, pos)
            k = blob[pos:pos + n].decode("utf-8")
            pos += n
            n, pos = _read_long_at(blob, pos)
            meta[k] = blob[pos:pos + n]
            pos += n
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = blob[pos:pos + 16]
    pos += 16
    fields = schema["fields"]
    names_types = [(fld["name"], _field_type(fld)) for fld in fields]
    records = []
    blob_len = len(blob)
    while pos < blob_len:
        n, pos = _read_long_at(blob, pos)
        size, pos = _read_long_at(blob, pos)
        payload = blob[pos:pos + size]
        pos += size
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        elif codec != "null":
            raise NotImplementedError(f"avro codec {codec!r}")
        p = 0
        for _ in range(n):
            rec = {}
            for name, typ in names_types:
                rec[name], p = _read_value_at(payload, p, typ)
            records.append(rec)
        if p != len(payload):
            raise ValueError("trailing bytes inside avro block")
        if blob[pos:pos + 16] != sync:
            raise ValueError("avro sync marker mismatch")
        pos += 16
    return schema, records
