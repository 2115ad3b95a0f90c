"""Apache Avro object-container codec, from the PUBLIC specification.

Iceberg manifests are Avro files; this container ships no Avro
library, so the format is implemented from its open spec (Avro
1.11.1, "Object Container Files" + "Binary Encoding"). Scope is exactly what a metadata reader needs:

- container: magic ``Obj\\x01``, file-metadata map (``avro.schema``
  JSON, ``avro.codec``), 16-byte sync marker, then blocks of
  (record count, byte length, payload, sync);
- codecs: ``null`` and ``deflate`` (raw zlib per spec);
- binary encoding: zigzag-varint int/long, little-endian
  float/double, length-prefixed bytes/string, index-prefixed unions,
  records as concatenated fields, arrays/maps as count-delimited
  blocks (negative count ⇒ byte size follows, per spec), enum as
  int index, fixed as raw bytes.

Files are self-describing (the writer schema travels in the header),
so the decoder returns plain dicts/lists driven by that schema — the
Iceberg reader never hardcodes manifest schemas. The encoder exists
so tests and catalog fixtures can round-trip real bytes instead of
checking in fixture binaries; it writes codec ``null``.

Raises ValueError on malformed input — the callers' quarantine
contract.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Any

MAGIC = b"Obj\x01"

_META_SCHEMA = {"type": "map", "values": "bytes"}


# ---------------------------------------------------------------------------
# binary decoding
# ---------------------------------------------------------------------------


class _Reader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise ValueError("avro: truncated input")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.take(1)[0]
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
            if shift > 70:
                raise ValueError("avro: varint too long")
        return (acc >> 1) ^ -(acc & 1)  # zigzag


def _resolve(schema: Any, names: dict[str, Any]) -> Any:
    """Named-type references ('r502', a record name) → definition."""
    if isinstance(schema, str) and schema in names:
        return names[schema]
    return schema


def _collect_names(schema: Any, names: dict[str, Any]) -> None:
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "enum", "fixed") and "name" in schema:
            names[schema["name"]] = schema
        if t == "record":
            for f in schema.get("fields", []):
                _collect_names(f["type"], names)
        elif t == "array":
            _collect_names(schema["items"], names)
        elif t == "map":
            _collect_names(schema["values"], names)
    elif isinstance(schema, list):
        for s in schema:
            _collect_names(s, names)


def _decode(r: _Reader, schema: Any, names: dict[str, Any]) -> Any:
    schema = _resolve(schema, names)
    if isinstance(schema, list):  # union
        idx = r.long()
        if not 0 <= idx < len(schema):
            raise ValueError(f"avro: union index {idx} of {len(schema)}")
        return _decode(r, schema[idx], names)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {
                f["name"]: _decode(r, f["type"], names)
                for f in schema["fields"]
            }
        if t == "array":
            out = []
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:
                    r.long()  # block byte size — skippable, unused
                    n = -n
                for _ in range(n):
                    out.append(_decode(r, schema["items"], names))
        if t == "map":
            out_m: dict[str, Any] = {}
            while True:
                n = r.long()
                if n == 0:
                    return out_m
                if n < 0:
                    r.long()
                    n = -n
                for _ in range(n):
                    k = _decode(r, "string", names)
                    out_m[k] = _decode(r, schema["values"], names)
        if t == "enum":
            return schema["symbols"][r.long()]
        if t == "fixed":
            return r.take(schema["size"])
        schema = t  # {"type": "long"} primitive wrapper
    if schema == "null":
        return None
    if schema == "boolean":
        return r.take(1) != b"\x00"
    if schema in ("int", "long"):
        return r.long()
    if schema == "float":
        return struct.unpack("<f", r.take(4))[0]
    if schema == "double":
        return struct.unpack("<d", r.take(8))[0]
    if schema == "bytes":
        return r.take(r.long())
    if schema == "string":
        return r.take(r.long()).decode("utf-8")
    raise ValueError(f"avro: unsupported schema {schema!r}")


def read_container(payload: bytes) -> tuple[Any, list[Any]]:
    """→ (writer schema, records). Codecs: null, deflate."""
    if payload[:4] != MAGIC:
        raise ValueError("avro: bad magic")
    r = _Reader(payload, 4)
    meta = _decode(r, _META_SCHEMA, {})
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: unsupported codec {codec}")
    sync = r.take(16)
    names: dict[str, Any] = {}
    _collect_names(schema, names)
    records: list[Any] = []
    while r.pos < len(payload):
        n = r.long()
        size = r.long()
        block = r.take(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        for _ in range(n):
            records.append(_decode(br, schema, names))
        if r.take(16) != sync:
            raise ValueError("avro: sync marker mismatch")
    return schema, records


# ---------------------------------------------------------------------------
# binary encoding (codec null)
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> bytes:
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


def _branch_accepts(bt: str, val: Any, exact: bool) -> bool:
    """Union branch dispatch by Python value type (r10, ADVICE fix —
    null-ness alone routed every non-None value to the first non-null
    branch, crashing or mis-encoding multi-branch unions). The
    ``exact`` pass matches strict types; the second pass allows the
    Avro-sanctioned int→float/double promotion."""
    if bt == "null":
        return val is None
    if bt == "boolean":
        return isinstance(val, bool)
    if bt in ("int", "long"):
        return isinstance(val, int) and not isinstance(val, bool)
    if bt in ("float", "double"):
        if isinstance(val, float):
            return True
        return (
            not exact and isinstance(val, int) and not isinstance(val, bool)
        )
    if bt in ("string", "enum"):
        return isinstance(val, str)
    if bt in ("bytes", "fixed"):
        return isinstance(val, (bytes, bytearray))
    if bt in ("record", "map"):
        return isinstance(val, dict)
    if bt == "array":
        return isinstance(val, list)
    return False


def _encode(buf: io.BytesIO, schema: Any, val: Any, names: dict[str, Any]) -> None:
    schema = _resolve(schema, names)
    if isinstance(schema, list):  # union: branch matched by value type
        for exact in (True, False):
            for i, branch in enumerate(schema):
                b = _resolve(branch, names)
                bt = b["type"] if isinstance(b, dict) else b
                if _branch_accepts(bt, val, exact):
                    buf.write(_zigzag(i))
                    _encode(buf, branch, val, names)
                    return
        raise ValueError(
            f"avro: no union branch in {schema!r} matches value "
            f"{val!r} of type {type(val).__name__}"
        )
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f in schema["fields"]:
                if f["name"] in val:
                    fv = val[f["name"]]
                elif "default" in f:
                    fv = f["default"]  # Avro field default (spec §schema)
                else:
                    raise KeyError(
                        f"avro: record value missing field {f['name']!r} "
                        "and the schema declares no default"
                    )
                _encode(buf, f["type"], fv, names)
            return
        if t == "array":
            if val:
                buf.write(_zigzag(len(val)))
                for item in val:
                    _encode(buf, schema["items"], item, names)
            buf.write(_zigzag(0))
            return
        if t == "map":
            if val:
                buf.write(_zigzag(len(val)))
                for k, v in val.items():
                    _encode(buf, "string", k, names)
                    _encode(buf, schema["values"], v, names)
            buf.write(_zigzag(0))
            return
        if t == "enum":
            buf.write(_zigzag(schema["symbols"].index(val)))
            return
        if t == "fixed":
            buf.write(val)
            return
        schema = t
    if schema == "null":
        return
    if schema == "boolean":
        buf.write(b"\x01" if val else b"\x00")
    elif schema in ("int", "long"):
        buf.write(_zigzag(int(val)))
    elif schema == "float":
        buf.write(struct.pack("<f", val))
    elif schema == "double":
        buf.write(struct.pack("<d", val))
    elif schema == "bytes":
        buf.write(_zigzag(len(val)) + bytes(val))
    elif schema == "string":
        enc = val.encode("utf-8")
        buf.write(_zigzag(len(enc)) + enc)
    else:
        raise ValueError(f"avro: unsupported schema {schema!r}")


def write_container(schema: Any, records: list[Any]) -> bytes:
    """Encode records under ``schema`` as an Avro object container
    (codec null, deterministic sync marker from the schema hash)."""
    import hashlib

    names: dict[str, Any] = {}
    _collect_names(schema, names)
    sync = hashlib.md5(json.dumps(schema).encode()).digest()
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": b"null",
    }
    _encode(out, _META_SCHEMA, meta, {})
    out.write(sync)
    if records:
        block = io.BytesIO()
        for rec in records:
            _encode(block, schema, rec, names)
        out.write(_zigzag(len(records)))
        out.write(_zigzag(len(block.getvalue())))
        out.write(block.getvalue())
        out.write(sync)
    return out.getvalue()
