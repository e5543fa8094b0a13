"""Delta Lake deletion vectors: descriptor resolution, the RoaringBitmapArray
codec, DV files, and the delete-set ids that name their row-delete
outputs (positions files, purged shadows) for targets.

Formats implemented from PUBLIC specs only:
- Delta PROTOCOL.md "Deletion Vectors" (delta-io/delta PROTOCOL.md):
  descriptor {storageType u|i|p, pathOrInlineDv, offset, sizeInBytes,
  cardinality}; on-disk DV file = [version byte][per-DV blob: int32-BE size,
  data, int32-BE CRC32(data)]; data = int32-LE magic 1681511377 + 64-bit
  roaring bitmap; 'u' path = <prefix>/deletion_vector_<uuid>.bin with the
  UUID Z85-encoded in the descriptor; 'i' inlines Z85(data).
- RoaringFormatSpec (RoaringBitmap/RoaringFormatSpec): 32-bit portable
  serialization (cookies 12346/12347, array/bitmap/run containers) and the
  64-bit extension (int64-LE bitmap count, then (int32-LE key, bitmap32)
  pairs).

Reference parity (and a deliberate improvement): the reference's
non-kernel diff DROPS the add/remove pair of a DV update entirely
(delta/DeltaConversionSource.java:147-163), leaving targets row-stale.
Here a DV'd file is converted to a deterministic PURGED shadow file
(deleted positions filtered out, written next to the original), so
Hudi/Iceberg targets reference row-accurate data
(delta/ITDeltaDeleteVectorConvert.java is the scenario source).

Scale notes: DV positions are decoded on the driver (`read_dv_positions`);
they are metadata-sized next to the data. Everything written from them
(position-delete parquets, purged shadows) goes through
`sources/row_deletes`, named by `dv_set_id`, and the readers' scans
anti-join the positions through `sources/file_scan`. Delta DV files written from row deletes
(`write_dv_files_from_positions`) are driver loops too.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib
from typing import Iterable

import numpy as np

# ---------------------------------------------------------------------------
# Z85 (ZeroMQ base-85), the alphabet Delta uses for inline DVs and UUIDs
# ---------------------------------------------------------------------------

_Z85_ALPHABET = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
_Z85_DECODE = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 input must be 4-byte aligned")
    out = []
    for i in range(0, len(data), 4):
        n = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_ALPHABET[n % 85])
            n //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError("z85 input must be 5-char aligned")
    out = bytearray()
    for i in range(0, len(s), 5):
        n = 0
        for c in s[i : i + 5]:
            n = n * 85 + _Z85_DECODE[c]
        out += n.to_bytes(4, "big")
    return bytes(out)


# ---------------------------------------------------------------------------
# 32-bit RoaringBitmap portable serialization (RoaringFormatSpec)
# ---------------------------------------------------------------------------

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4
_BITMAP_CONTAINER_SIZE = 8192  # bytes = 65536 bits


def _serialize_bitmap32(values: np.ndarray) -> bytes:
    """Serialize sorted uint32 values; emits the no-run-container format
    (array containers <=4096 cardinality, bitmap containers above)."""
    keys = (values >> 16).astype(np.uint32)
    uniq_keys, starts = np.unique(keys, return_index=True)
    bounds = list(starts) + [len(values)]
    n = len(uniq_keys)
    out = bytearray()
    out += struct.pack("<ii", _SERIAL_COOKIE_NO_RUN, n)
    containers = []
    for i, k in enumerate(uniq_keys):
        lows = (values[bounds[i] : bounds[i + 1]] & 0xFFFF).astype(np.uint16)
        card = len(lows)
        out += struct.pack("<HH", int(k), card - 1)
        if card <= 4096:
            containers.append(lows.astype("<u2").tobytes())
        else:
            bits = np.zeros(65536, dtype=bool)
            bits[lows] = True
            containers.append(np.packbits(bits, bitorder="little").tobytes())
    # offset header (always present in the no-run format)
    off = len(out) + 4 * n
    for c in containers:
        out += struct.pack("<I", off)
        off += len(c)
    for c in containers:
        out += c
    return bytes(out)


def _deserialize_bitmap32(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    """Parse one 32-bit bitmap starting at `pos`; returns (sorted uint32
    values, next position). Handles array/bitmap/run containers."""
    (cookie,) = struct.unpack_from("<i", buf, pos)
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        pos += 4
        run_flags = np.unpackbits(
            np.frombuffer(buf, dtype=np.uint8, count=(n + 7) // 8, offset=pos),
            bitorder="little",
        )[:n].astype(bool)
        pos += (n + 7) // 8
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<i", buf, pos + 4)
        pos += 8
        run_flags = np.zeros(n, dtype=bool)
        has_offsets = True
    else:
        raise ValueError(f"unknown roaring cookie {cookie}")
    keys = np.empty(n, dtype=np.uint32)
    cards = np.empty(n, dtype=np.int64)
    for i in range(n):
        k, cm1 = struct.unpack_from("<HH", buf, pos)
        keys[i], cards[i] = k, cm1 + 1
        pos += 4
    if has_offsets:
        pos += 4 * n  # offsets are redundant for sequential parsing
    out_parts = []
    for i in range(n):
        card = int(cards[i])
        hi = np.uint32(keys[i]) << np.uint32(16)
        if run_flags[i]:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(buf, dtype="<u2", count=2 * n_runs, offset=pos).reshape(-1, 2)
            pos += 4 * n_runs
            vals = np.concatenate(
                [np.arange(int(s), int(s) + int(l) + 1, dtype=np.uint32) for s, l in runs]
            ) if n_runs else np.empty(0, dtype=np.uint32)
        elif card <= 4096:
            vals = np.frombuffer(buf, dtype="<u2", count=card, offset=pos).astype(np.uint32)
            pos += 2 * card
        else:
            bits = np.unpackbits(
                np.frombuffer(buf, dtype=np.uint8, count=_BITMAP_CONTAINER_SIZE, offset=pos),
                bitorder="little",
            )
            vals = np.nonzero(bits)[0].astype(np.uint32)
            pos += _BITMAP_CONTAINER_SIZE
        out_parts.append(vals | hi)
    values = np.concatenate(out_parts) if out_parts else np.empty(0, dtype=np.uint32)
    return values, pos


# ---------------------------------------------------------------------------
# 64-bit RoaringBitmapArray (Delta's DV payload)
# ---------------------------------------------------------------------------

DV_MAGIC = 1681511377  # portable-format magic, PROTOCOL.md


def serialize_dv_data(positions: Iterable[int]) -> bytes:
    """positions -> DV data blob (magic + 64-bit portable bitmap array)."""
    vals = np.array(sorted(set(int(p) for p in positions)), dtype=np.uint64)
    out = bytearray(struct.pack("<i", DV_MAGIC))
    highs = (vals >> np.uint64(32)).astype(np.uint32)
    uniq, starts = np.unique(highs, return_index=True)
    bounds = list(starts) + [len(vals)]
    out += struct.pack("<q", len(uniq))
    for i, h in enumerate(uniq):
        lows = (vals[bounds[i] : bounds[i + 1]] & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        out += struct.pack("<I", int(h))
        out += _serialize_bitmap32(lows)
    return bytes(out)


def deserialize_dv_data(data: bytes) -> np.ndarray:
    """DV data blob -> sorted uint64 row positions."""
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != DV_MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic}")
    (n_bitmaps,) = struct.unpack_from("<q", data, 4)
    pos = 12
    parts = []
    for _ in range(n_bitmaps):
        (key,) = struct.unpack_from("<I", data, pos)
        vals32, pos = _deserialize_bitmap32(data, pos + 4)
        parts.append(vals32.astype(np.uint64) | (np.uint64(key) << np.uint64(32)))
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64)


# ---------------------------------------------------------------------------
# DV files + descriptors
# ---------------------------------------------------------------------------


def _dv_file_bytes(data: bytes) -> bytes:
    """A DV file holding the one DV blob ``data``: the format version
    byte, then int32-BE size, data, int32-BE CRC32(data)."""
    crc = zlib.crc32(data) & 0xFFFFFFFF
    return b"\x01" + struct.pack(">i", len(data)) + data + struct.pack(">I", crc)


def write_dv_file(base_path: str, positions: Iterable[int], prefix: str = "") -> dict:
    """Write a 'u'-storage DV file and return its descriptor (the shape a
    Delta writer would put in add.deletionVector). Test/tooling utility."""
    data = serialize_dv_data(positions)
    uid = _uuid.uuid4()
    name = f"deletion_vector_{uid}.bin"
    d = os.path.join(base_path, prefix) if prefix else base_path
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "wb") as fh:
        fh.write(_dv_file_bytes(data))
    card = len(set(int(p) for p in positions))
    return {
        "storageType": "u",
        "pathOrInlineDv": prefix + z85_encode(uid.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": card,
    }


def inline_dv_descriptor(positions: Iterable[int]) -> dict:
    data = serialize_dv_data(positions)
    pad = (-len(data)) % 4
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
        "offset": None,
        "sizeInBytes": len(data),
        "cardinality": len(set(int(p) for p in positions)),
    }


def dv_absolute_path(base_path: str, desc: dict) -> str:
    st = desc["storageType"]
    if st == "p":
        return desc["pathOrInlineDv"]
    if st != "u":
        raise ValueError(f"no file path for storageType {st!r}")
    enc = desc["pathOrInlineDv"]
    prefix, uuid_part = enc[:-20], enc[-20:]
    uid = _uuid.UUID(bytes=z85_decode(uuid_part))
    d = os.path.join(base_path, prefix) if prefix else base_path
    return os.path.join(d, f"deletion_vector_{uid}.bin")


def read_dv_positions(base_path: str, desc: dict) -> np.ndarray:
    """Resolve a descriptor to its sorted deleted row positions."""
    if desc["storageType"] == "i":
        data = z85_decode(desc["pathOrInlineDv"])[: desc["sizeInBytes"]]
        return deserialize_dv_data(data)
    path = dv_absolute_path(base_path, desc)
    offset = desc.get("offset") or 1
    with open(path, "rb") as fh:
        fh.seek(offset)
        (size,) = struct.unpack(">i", fh.read(4))
        if desc.get("sizeInBytes") not in (None, size):
            raise ValueError(
                f"DV size mismatch: descriptor {desc['sizeInBytes']} vs stored {size}"
            )
        data = fh.read(size)
        (crc,) = struct.unpack(">I", fh.read(4))
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"DV checksum mismatch in {path}")
    return deserialize_dv_data(data)


def dv_unique_id(desc: dict) -> str:
    """storageType + pathOrInlineDv [+ @offset] — the spec's unique id."""
    base = f"{desc['storageType']}{desc['pathOrInlineDv']}"
    off = desc.get("offset")
    return f"{base}@{off}" if off is not None else base


# ---------------------------------------------------------------------------
# Output names (targets cannot express Delta DVs row-level)
# ---------------------------------------------------------------------------


def dv_set_id(desc: dict) -> str:
    """The delete-set id of a (file, DV) pair's row-delete outputs:
    md5 of the DV's unique id, so a changed DV names new files."""
    import hashlib

    return hashlib.md5(dv_unique_id(desc).encode()).hexdigest()[:8]


def purged_path(path: str, desc: dict) -> str:
    from incubator_xtable_spark.sources.row_deletes import shadow_path

    return shadow_path(path, dv_set_id(desc))


def write_dv_files_from_positions(base_path: str, deletes_rows: list[dict]) -> dict[str, dict]:
    """ROW_DELETES rows -> 'u'-storage Delta DV files, on the driver: each
    row's positions parquet is read and its bitmap serialized. The DV file
    uuid derives deterministically from the positions file name (which
    already encodes the delete-set hash), so rewrites are idempotent and a
    changed delete set yields a new file. Returns {data_file_path:
    deletionVector descriptor}."""
    import hashlib

    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for r in deletes_rows:
        uid = _uuid.UUID(bytes=hashlib.md5(os.path.basename(r["positions_path"]).encode()).digest())
        path = os.path.join(base_path, f"deletion_vector_{uid}.bin")
        positions = pq.read_table(r["positions_path"], columns=["pos"])["pos"].to_numpy()
        data = serialize_dv_data(positions)
        if not os.path.exists(path):
            tmp = path + f".tmp-{os.getpid()}"
            with open(tmp, "wb") as fh:
                fh.write(_dv_file_bytes(data))
            os.replace(tmp, path)
        out[r["data_file_path"]] = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(uid.bytes),
            "offset": 1,
            "sizeInBytes": len(data),
            "cardinality": int(len(positions)),
        }
    return out
