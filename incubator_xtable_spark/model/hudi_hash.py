"""Real-Hudi metadata-record key hashing (public HashID scheme).

Real Hudi does NOT key column_stats metadata records by readable
strings: HoodieMetadataPayload.getColumnStatsIndexKey concatenates three
base64-encoded hash IDs —

    key = ColumnIndexID(column) + PartitionIndexID(partition) + FileIndexID(fileName)

(in that order), where each ID is Base64 of a fixed-width hash from
``org.apache.hudi.common.util.hash.HashID``:

- ``ColumnIndexID`` / ``PartitionIndexID``: ``HashID.Size.BITS_64`` —
  XXHash64 of the UTF-8 bytes with HashID's fixed seed, emitted as the
  8-byte BIG-endian value (Java ``ByteBuffer.putLong``) → 12 base64
  chars (standard alphabet, WITH padding, ``Base64CodecUtil`` =
  ``java.util.Base64.getEncoder()``).
- ``FileIndexID``: ``HashID.Size.BITS_128`` — plain MD5 → 24 base64
  chars.

The partition string goes through
``HoodieTableMetadataUtil.getPartitionIdentifier`` first: the empty
(non-partitioned) path maps to ``"."``.

A full column-stats key is therefore always 12+12+24 = 48 chars; the
last 24 chars are the FileIndexID — the invariant the index writer's
carry-over uses to drop a replaced file's records without decoding
payloads (see targets/hudi_metadata_index.py).

Provenance/validation: the scheme is restated from the public Apache
Hudi sources named above (the reference,
hudi/HudiFileStatsExtractor.java:99-186, consumes it indirectly through
``HoodieTableMetadata.getColumnStats`` point lookups). The XXH64
implementation below is gated on the algorithm's published test vectors
(tests/test_hudi_hash.py) AND cross-validated byte-for-byte against the
JVM using net.openhft zero-allocation-hashing — the exact library real
Hudi's HashID delegates to — on the full pipeline (XXH64(seed) ->
big-endian bytes -> Base64, MD5 -> Base64, assembled 48-char keys):
tests/test_hudi_hash_jvm.py. The env ships no Hudi jars, so the one
remaining spec-restated (not artifact-pinned) piece is WHICH source
string feeds which ID (partition-identifier mapping, member order).
``HASH_SEED`` is HashID's fixed XX seed constant.
"""

from __future__ import annotations

import base64
import hashlib

# HashID's fixed seed for the XXHash32/64 sizes (org.apache.hudi.common
# .util.hash.HashID — the lz4-java example seed, fixed "use whatever
# value you want, but always the same")
HASH_SEED = 0x9747B28C

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 0) -> int:
    """Pure-python XXH64 (the public xxHash spec; vectors in tests)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def hash_id(message: str | bytes, bits: int) -> bytes:
    """HashID.hash: XXH64(HASH_SEED) big-endian for 64 bits, MD5 for 128."""
    b = message.encode("utf-8") if isinstance(message, str) else message
    if bits == 64:
        return xxhash64(b, HASH_SEED).to_bytes(8, "big")
    if bits == 128:
        return hashlib.md5(b).digest()
    raise ValueError(f"unsupported HashID size: {bits}")


def _b64(data: bytes) -> str:
    return base64.b64encode(data).decode("ascii")


def column_index_id(column: str) -> str:
    return _b64(hash_id(column, 64))


def partition_index_id(partition: str) -> str:
    return _b64(hash_id(partition, 64))


def file_index_id(file_name: str) -> str:
    return _b64(hash_id(file_name, 128))


FILE_ID_B64_LEN = 24  # base64(16-byte MD5) incl. '==' padding
COL_STATS_KEY_LEN = 12 + 12 + FILE_ID_B64_LEN


def partition_identifier(partition_path: str) -> str:
    """HoodieTableMetadataUtil.getPartitionIdentifier: '' -> '.'."""
    return partition_path if partition_path else "."


def col_stats_index_key(partition_path: str, file_name: str, column: str) -> str:
    """HoodieMetadataPayload.getColumnStatsIndexKey — the record key real
    Hudi's col-stats point lookups compute."""
    return (
        column_index_id(column)
        + partition_index_id(partition_identifier(partition_path))
        + file_index_id(file_name)
    )


def partition_stats_index_key(partition_path: str, column: str) -> str:
    """HoodieMetadataPayload.getPartitionStatsIndexKey (columnID +
    partitionID) — the col_stats key scheme minus the file member, so a
    column's partition aggregates sort contiguously for range scans."""
    return column_index_id(column) + partition_index_id(
        partition_identifier(partition_path)
    )
