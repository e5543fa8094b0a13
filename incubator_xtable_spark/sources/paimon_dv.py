"""Paimon deletion-vectors index: file codec + conversion helpers.

Implemented from the PUBLIC Paimon spec (no Paimon jars in this
environment). On-disk shape of a deletion-vectors index file (V1):

    [1 byte  version = 1]
    per deletion vector:
      [int32 BE size]                (= length recorded in the manifest meta)
      [size bytes data]              (int32 BE magic 1581511376 +
                                      32-bit RoaringBitmap portable bytes)
      [int32 BE CRC32(data)]

The index manifest (avro, see paimon_source.INDEX_MANIFEST_AVRO_SCHEMA)
carries per (partition, bucket) an entry whose deletion-vector ranges
list (data_file_name, offset, length, cardinality) — offset points at
the size field above.

Reference parity: the reference does NOT read Paimon deletion vectors
(paimon/PaimonDataFileExtractor.java stops at data-file manifests); this
extends the repo's row-delete channel (Delta DVs <-> Iceberg position
deletes) to Paimon sources, so a delete-heavy Paimon table converts
metadata-only. The bitmap codec is the same 32-bit portable roaring
format used by Delta DVs (sources/delta_dv.py) — reused, not reimplemented.

Scale: index files are metadata-sized, so DV positions are decoded on
the driver (`read_dv_from_index`); the positions files, purged shadows
and reader frames built from them go through `sources/row_deletes`,
named by `dv_range_id`.
"""

from __future__ import annotations

import hashlib
import os
import struct
import uuid
import zlib
from typing import Iterable

import numpy as np

from incubator_xtable_spark.sources.delta_dv import (
    _deserialize_bitmap32,
    _serialize_bitmap32,
)

PAIMON_DV_MAGIC = 1581511376  # BitmapDeletionVector magic (public spec)
PAIMON_DV_VERSION = 1
INDEX_DIR = "index"
DELETION_VECTORS_INDEX = "DELETION_VECTORS"


def serialize_paimon_dv(positions: Iterable[int]) -> bytes:
    """One DV's data section: BE magic + 32-bit portable roaring bitmap.
    Vectorized (np.unique, no python-int loop): a multi-million-row
    delete set serializes in milliseconds, not seconds."""
    values = np.unique(np.asarray(list(positions) if not isinstance(positions, np.ndarray) else positions, dtype=np.uint32))
    return struct.pack(">i", PAIMON_DV_MAGIC) + _serialize_bitmap32(values)


def deserialize_paimon_dv(data: bytes) -> np.ndarray:
    (magic,) = struct.unpack_from(">i", data, 0)
    if magic != PAIMON_DV_MAGIC:
        raise ValueError(f"bad Paimon DV magic {magic}")
    values, _ = _deserialize_bitmap32(data, 4)
    return values.astype(np.int64)


def write_dv_index_file(
    base_path: str, dvs: dict[str, Iterable[int]]
) -> tuple[str, int, dict[str, dict]]:
    """Write one V1 index file under <base>/index/ holding a DV per data
    file name. Returns (file_name, file_size, metas) where metas maps
    data_file_name -> {offset, length, cardinality}."""
    d = os.path.join(base_path, INDEX_DIR)
    os.makedirs(d, exist_ok=True)
    name = f"index-{uuid.uuid4().hex}-0"
    metas: dict[str, dict] = {}
    buf = bytearray([PAIMON_DV_VERSION])
    for data_file, positions in dvs.items():
        values = np.unique(
            np.asarray(
                positions if isinstance(positions, np.ndarray) else list(positions),
                dtype=np.uint32,
            )
        )
        data = serialize_paimon_dv(values)
        metas[data_file] = {
            "offset": len(buf),
            "length": len(data),
            "cardinality": int(len(values)),
        }
        buf += struct.pack(">i", len(data))
        buf += data
        buf += struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
    path = os.path.join(d, name)
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as fh:
        fh.write(bytes(buf))
    os.rename(tmp, path)
    return name, len(buf), metas


def read_dv_from_index(index_path: str, offset: int, length: int) -> np.ndarray:
    """Decode one DV's positions from an index file (CRC-checked)."""
    with open(index_path, "rb") as fh:
        version = fh.read(1)[0]
        if version != PAIMON_DV_VERSION:
            raise ValueError(f"unsupported Paimon DV index version {version}")
        fh.seek(offset)
        (size,) = struct.unpack(">i", fh.read(4))
        if size != length:
            raise ValueError(f"DV size field {size} != manifest length {length}")
        data = fh.read(size)
        (crc,) = struct.unpack(">I", fh.read(4))
    if crc != (zlib.crc32(data) & 0xFFFFFFFF):
        raise ValueError("Paimon DV CRC mismatch")
    return deserialize_paimon_dv(data)


def dv_range_id(index_file: str, offset: int, length: int) -> str:
    return hashlib.md5(f"{index_file}:{offset}:{length}".encode()).hexdigest()[:8]
