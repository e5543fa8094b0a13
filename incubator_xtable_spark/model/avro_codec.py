"""Pure-python Avro BINARY codec (records + OCF container files) — the
engine's only Avro encoder and decoder.

Written from the PUBLIC Avro 1.x specification (binary encoding +
object container files): zigzag-varint ints/longs, little-endian IEEE
float/double, length-prefixed bytes/strings, block-encoded arrays/maps
(negative block count = byte-size-prefixed), union index prefix, fixed,
enum ordinal; OCF = magic ``Obj\\x01`` + file-metadata map
(avro.schema / avro.codec) + sync marker + sync-delimited blocks
(null/deflate codecs; deflate is raw zlib).

Every Avro file or record the engine writes comes from here: Iceberg
manifests and manifest lists, Paimon manifests / manifest lists / index
manifests, Hudi metadata-table records and Hudi CDC log-block records.
Reads of the same files go through ``read_ocf`` / ``iter_ocf``. The
JVM's Avro library is only an independent reference in the tests
(records written here are gated equal under its DataFileReader).

The decoder yields TYPED Python values:

- decimal logical type (bytes/fixed)  -> decimal.Decimal
- date                                -> datetime.date
- timestamp-millis/micros             -> naive datetime.datetime (UTC)
- local-timestamp-*                   -> naive datetime.datetime
- uuid                                -> str
- plain bytes/fixed                   -> bytes

and the encoder accepts the same shapes (raw ints for logical types pass
through). Avro ``bytes`` take ``bytes``-like values only: a ``str``
raises instead of being silently re-encoded.

It is JVM-free, so data-source worker processes (no SparkSession) can
read Avro and the target write path makes no per-record py4j calls.

Scale: encoding/decoding is driver-or-worker-side over metadata-sized
payloads (log blocks, manifests); data rows never route through here.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import io
import json
import struct
import zlib
from typing import Any, BinaryIO, Optional

_EPOCH_D = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1)


class _Resolver:
    """Named-type registry (records/enums/fixed can be referenced by
    name after first definition)."""

    def __init__(self) -> None:
        self.named: dict[str, Any] = {}
        # when True, union values decode as Branch(name, value) for
        # named-type branches — lets callers RE-ENCODE losslessly
        # (ambiguous wrapper unions can't re-infer the branch from the
        # Python value alone)
        self.keep_branches = False

    def define(self, schema: dict) -> None:
        name = schema.get("name")
        if name:
            ns = schema.get("namespace")
            self.named[name] = schema
            if ns:
                self.named[f"{ns}.{name}"] = schema

    def resolve(self, schema: Any) -> Any:
        if isinstance(schema, str) and schema in self.named:
            return self.named[schema]
        return schema

    def define_all(self, schema: Any) -> None:
        """Pre-register every named type in the tree. Avro allows a union
        branch (or any later field) to reference a named type by string
        even when the DEFINING branch was never decoded/encoded for this
        datum — lazy definition would miss it (r7 fix)."""
        if isinstance(schema, list):
            for s in schema:
                self.define_all(s)
            return
        if not isinstance(schema, dict):
            return
        name = schema.get("name")
        if name and schema.get("type") in ("record", "enum", "fixed"):
            if name in self.named:
                return  # cycle guard: already walked
            self.define(schema)
        t = schema.get("type")
        if isinstance(t, (dict, list)):
            self.define_all(t)
        for f in schema.get("fields", []) or []:
            self.define_all(f.get("type"))
        if "items" in schema:
            self.define_all(schema["items"])
        if "values" in schema:
            self.define_all(schema["values"])


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _read_long(buf: BinaryIO) -> int:
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated avro varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return _zigzag(acc)
        shift += 7


def _read_bytes(buf: BinaryIO) -> bytes:
    n = _read_long(buf)
    out = buf.read(n)
    if len(out) != n:
        raise EOFError("truncated avro bytes")
    return out


def _logical(schema: dict, raw: Any) -> Any:
    lt = schema.get("logicalType")
    if lt is None:
        return raw
    if lt == "decimal":
        scale = int(schema.get("scale", 0))
        unscaled = int.from_bytes(raw, "big", signed=True)
        return decimal.Decimal(unscaled).scaleb(-scale)
    if lt == "date":
        return _EPOCH_D + datetime.timedelta(days=raw)
    if lt in ("timestamp-millis", "local-timestamp-millis"):
        return _EPOCH_TS + datetime.timedelta(milliseconds=raw)
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        return _EPOCH_TS + datetime.timedelta(microseconds=raw)
    if lt == "uuid":
        return raw
    if lt in ("time-millis", "time-micros"):
        return raw
    return raw


def decode_value(schema: Any, buf: BinaryIO, res: Optional[_Resolver] = None) -> Any:
    """One value of ``schema`` from the binary stream."""
    if res is None:
        res = _Resolver()
        res.define_all(schema)
    schema = res.resolve(schema)
    if isinstance(schema, list):  # union: long index prefix
        idx = _read_long(buf)
        if idx < 0 or idx >= len(schema):
            raise ValueError(f"avro union index {idx} out of range")
        val = decode_value(schema[idx], buf, res)
        if res.keep_branches:
            branch = schema[idx]
            name = (
                branch
                if isinstance(branch, str) and branch in res.named
                else branch.get("name") if isinstance(branch, dict) else None
            )
            if name:
                return Branch(name, val)
        return val
    if isinstance(schema, dict):
        t = schema.get("type")
        if t == "record":
            res.define(schema)
            return {
                f["name"]: decode_value(f["type"], buf, res)
                for f in schema["fields"]
            }
        if t == "enum":
            res.define(schema)
            return schema["symbols"][_read_long(buf)]
        if t == "fixed":
            res.define(schema)
            raw = buf.read(int(schema["size"]))
            if len(raw) != int(schema["size"]):
                raise EOFError("truncated avro fixed")
            return _logical(schema, raw)
        if t == "array":
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    _read_long(buf)  # block byte size — skippable hint
                    n = -n
                for _ in range(n):
                    out.append(decode_value(schema["items"], buf, res))
        if t == "map":
            out = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    _read_long(buf)
                    n = -n
                for _ in range(n):
                    k = _read_bytes(buf).decode("utf-8")
                    out[k] = decode_value(schema["values"], buf, res)
        # logical-typed primitive, e.g. {"type": "long", "logicalType": ...}
        raw = decode_value(t, buf, res)
        return _logical(schema, raw)
    # primitive names
    if schema == "null":
        return None
    if schema == "boolean":
        b = buf.read(1)
        if not b:
            raise EOFError("truncated avro boolean")
        return b[0] != 0
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "bytes":
        return _read_bytes(buf)
    if schema == "string":
        return _read_bytes(buf).decode("utf-8")
    raise ValueError(f"unsupported avro schema: {schema!r}")


def decode_binary_record(schema_json: str | dict, blob: bytes) -> dict:
    """One schema'd record from raw Avro binary bytes (no container)."""
    schema = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    return decode_value(schema, io.BytesIO(blob))


# ---------------------------------------------------------------------------
# Object Container Files (the format Iceberg manifests / manifest lists use)
# ---------------------------------------------------------------------------

_OCF_MAGIC = b"Obj\x01"

_OCF_META_SCHEMA = {"type": "map", "values": "bytes"}


def iter_ocf(path: str):
    """Yield records from an OCF block-streamingly — peak memory is one
    decompressed data block, never the whole file (the data-file scan
    path `sources/avro_scan.py` rides this). Codecs: null, deflate."""
    with open(path, "rb") as fh:
        if fh.read(4) != _OCF_MAGIC:
            raise ValueError(f"not an avro object container file: {path}")
        meta = decode_value(_OCF_META_SCHEMA, fh)
        sync = fh.read(16)
        schema = json.loads(meta["avro.schema"].decode("utf-8"))
        codec = (meta.get("avro.codec") or b"null").decode("utf-8")
        while True:
            try:
                n = _read_long(fh)
            except EOFError:
                break
            block = fh.read(_read_long(fh))
            if codec == "deflate":
                block = zlib.decompress(block, -15)
            elif codec != "null":
                raise ValueError(f"unsupported avro codec: {codec}")
            bio = io.BytesIO(block)
            res = _Resolver()
            res.define_all(schema)
            for _ in range(n):
                yield decode_value(schema, bio, res)
            marker = fh.read(16)
            if marker != sync:
                raise ValueError(f"avro sync marker mismatch in {path}")


def read_ocf(path: str) -> tuple[list[dict], dict[str, bytes]]:
    """-> (records, file metadata). Codecs: null, deflate (raw zlib)."""
    with open(path, "rb") as fh:
        if fh.read(4) != _OCF_MAGIC:
            raise ValueError(f"not an avro object container file: {path}")
        meta = decode_value(_OCF_META_SCHEMA, fh)
    return list(iter_ocf(path)), meta


# ---------------------------------------------------------------------------
# Binary ENCODER — the decoder's inverse (manifests, log blocks, metadata
# records).
# ---------------------------------------------------------------------------


class Branch:
    """Explicit union-branch choice: ``Branch("IntWrapper", {"value": 3})``.
    Needed when a union has several branches a Python value could satisfy
    (e.g. Hudi's typed min/max wrapper records)."""

    __slots__ = ("name", "value")

    def __init__(self, name: str, value: Any) -> None:
        self.name = name
        self.value = value


def _write_long(out: bytearray, n: int) -> None:
    if not -(1 << 63) <= n <= (1 << 63) - 1:
        raise ValueError(f"avro long out of int64 range: {n}")
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    # python ints are unbounded; mask AFTER zigzag like the decoder expects
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _write_bytes(out: bytearray, raw: bytes) -> None:
    _write_long(out, len(raw))
    out.extend(raw)


def _branch_name(schema: Any) -> str:
    if isinstance(schema, dict):
        return schema.get("name") or schema.get("type")
    return schema


def _unlogical(schema: dict, value: Any) -> Any:
    lt = schema.get("logicalType")
    if lt is None:
        return value
    if lt == "decimal" and isinstance(value, decimal.Decimal):
        scale = int(schema.get("scale", 0))
        unscaled = int(value.scaleb(scale).to_integral_value())
        if schema.get("type") == "fixed" or (
            isinstance(schema.get("type"), dict)
            and schema["type"].get("type") == "fixed"
        ):
            size = int(schema.get("size") or schema["type"]["size"])
            return unscaled.to_bytes(size, "big", signed=True)
        # minimal two's complement, as java.math.BigInteger.toByteArray()
        n = (unscaled + (unscaled < 0)).bit_length() // 8 + 1
        return unscaled.to_bytes(n, "big", signed=True)
    if lt == "date" and isinstance(value, datetime.date) and not isinstance(value, datetime.datetime):
        return (value - _EPOCH_D).days
    if lt in ("timestamp-millis", "local-timestamp-millis") and isinstance(value, datetime.datetime):
        return round((value - _EPOCH_TS).total_seconds() * 1000)
    if lt in ("timestamp-micros", "local-timestamp-micros") and isinstance(value, datetime.datetime):
        d = value - _EPOCH_TS
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    return value


def _pick_union_branch(schemas: list, value: Any, res: "_Resolver") -> int:
    if isinstance(value, Branch):
        for i, s in enumerate(schemas):
            if _branch_name(res.resolve(s)) == value.name:
                return i
        raise ValueError(f"union has no branch named {value.name!r}")
    if value is None:
        for i, s in enumerate(schemas):
            if s == "null":
                return i
        raise ValueError("None for a union without a null branch")
    non_null = [(i, res.resolve(s)) for i, s in enumerate(schemas) if s != "null"]
    if len(non_null) == 1:
        return non_null[0][0]

    def matches(s: Any) -> bool:
        t = s.get("type") if isinstance(s, dict) else s
        if isinstance(value, bool):
            return t == "boolean"
        if isinstance(value, int):
            return t in ("int", "long")
        if isinstance(value, float):
            return t in ("float", "double")
        if isinstance(value, str):
            return t in ("string", "enum")
        if isinstance(value, (bytes, bytearray)):
            return t in ("bytes", "fixed")
        if isinstance(value, dict):
            return t in ("record", "map")
        if isinstance(value, (list, tuple)):
            return t == "array"
        if isinstance(value, decimal.Decimal):
            return isinstance(s, dict) and s.get("logicalType") == "decimal"
        if isinstance(value, datetime.datetime):
            return isinstance(s, dict) and "timestamp" in (s.get("logicalType") or "")
        if isinstance(value, datetime.date):
            return isinstance(s, dict) and s.get("logicalType") == "date"
        return False

    for i, s in non_null:
        if matches(s):
            return i
    raise ValueError(
        f"cannot infer union branch for {type(value).__name__}; pass Branch(name, value)"
    )


def encode_value(schema: Any, value: Any, out: bytearray, res: Optional[_Resolver] = None) -> None:
    if res is None:
        res = _Resolver()
        res.define_all(schema)
    schema = res.resolve(schema)
    if isinstance(schema, list):  # union
        idx = _pick_union_branch(schema, value, res)
        _write_long(out, idx)
        inner = value.value if isinstance(value, Branch) else value
        encode_value(schema[idx], inner, out, res)
        return
    if isinstance(schema, dict):
        t = schema.get("type")
        if t == "record":
            res.define(schema)
            for f in schema["fields"]:
                if f["name"] not in value and "default" not in f:
                    raise ValueError(f"record field {f['name']!r} missing and has no default")
                encode_value(f["type"], value.get(f["name"], f.get("default")), out, res)
            return
        if t == "enum":
            res.define(schema)
            _write_long(out, schema["symbols"].index(value))
            return
        if t == "fixed":
            res.define(schema)
            raw = _unlogical(schema, value)
            if len(raw) != int(schema["size"]):
                raise ValueError(f"fixed size mismatch: {len(raw)} != {schema['size']}")
            out.extend(raw)
            return
        if t == "array":
            if value:
                _write_long(out, len(value))
                for item in value:
                    encode_value(schema["items"], item, out, res)
            _write_long(out, 0)
            return
        if t == "map":
            if value:
                _write_long(out, len(value))
                for k, v in value.items():
                    _write_bytes(out, k.encode("utf-8"))
                    encode_value(schema["values"], v, out, res)
            _write_long(out, 0)
            return
        encode_value(t, _unlogical(schema, value), out, res)
        return
    if schema == "null":
        if value is not None:
            raise ValueError(f"non-null value {value!r} for null schema")
        return
    if schema == "boolean":
        out.append(1 if value else 0)
        return
    if schema in ("int", "long"):
        _write_long(out, int(value))
        return
    if schema == "float":
        out.extend(struct.pack("<f", value))
        return
    if schema == "double":
        out.extend(struct.pack("<d", value))
        return
    if schema == "bytes":
        _write_bytes(out, bytes(value))
        return
    if schema == "string":
        _write_bytes(out, str(value).encode("utf-8"))
        return
    raise ValueError(f"unsupported avro schema: {schema!r}")


def encode_binary_record(schema_json: str | dict, record: dict) -> bytes:
    """One schema'd record to raw Avro binary bytes (no container) —
    round-trips through ``decode_binary_record``."""
    schema = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    out = bytearray()
    encode_value(schema, record, out)
    return bytes(out)


def decode_binary_record_with_branches(schema_json: str | dict, blob: bytes) -> Any:
    """decode_value over raw record bytes with union branches PRESERVED
    as ``Branch(name, value)`` — the lossless decode for callers that
    must re-encode (plain decode drops branch names, and ambiguous
    wrapper unions can't re-infer them from the Python value)."""
    import io as _io

    schema = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    res = _Resolver()
    res.define_all(schema)
    res.keep_branches = True
    return decode_value(schema, _io.BytesIO(blob), res)


def write_ocf(
    path: str,
    schema_json: str | dict,
    records: list[dict],
    *,
    codec: str = "null",
    extra_meta: Optional[dict] = None,
) -> int:
    """Write an Avro Object Container File (spec 1.11 §Object Container
    Files): magic, metadata map (avro.schema/avro.codec + extras), 16-byte
    sync marker, then one data block. Codecs: null, deflate (raw zlib).
    Returns the file length in bytes.

    The header matches the JVM DataFileWriter's: ``avro.schema`` is
    compact JSON, the way ``Schema.toString()`` prints it, and the null
    codec writes no ``avro.codec`` key. The sync marker is DETERMINISTIC —
    derived from the schema + record count — because scripts here must
    stay reproducible (no RNG in the engine's write paths); the marker's
    only spec role is block-boundary detection, which any fixed value
    serves. Round-trips through ``read_ocf`` and the JVM DataFileReader
    (gated in tests)."""
    schema = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    schema_bytes = json.dumps(schema, separators=(",", ":")).encode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec: {codec}")
    meta: dict[str, bytes] = {"avro.schema": schema_bytes}
    if codec != "null":  # absent means null, as the JVM writer leaves it
        meta["avro.codec"] = codec.encode("ascii")
    for k, v in (extra_meta or {}).items():
        meta[k] = v if isinstance(v, bytes) else str(v).encode("utf-8")
    sync = hashlib.md5(b"xtable-ocf:%d:" % len(records) + schema_bytes).digest()
    body = bytearray()
    res = _Resolver()
    res.define_all(schema)
    for rec in records:
        encode_value(schema, rec, body, res)
    block = bytes(body)
    if codec == "deflate":
        block = zlib.compress(block)[2:-4]  # raw: strip zlib header + adler
    out = bytearray()
    out += _OCF_MAGIC
    encode_value(_OCF_META_SCHEMA, meta, out)
    out += sync
    if records:
        _write_long(out, len(records))
        _write_long(out, len(block))
        out += block
        out += sync
    with open(path, "wb") as fh:
        fh.write(out)
    return len(out)
