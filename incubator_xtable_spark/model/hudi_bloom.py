"""Hudi bloom filters — the serialized form real Hudi stores in parquet
footers (``org.apache.hudi.bloomfilter``) and in the ``bloomFilter`` meta
block of metadata-table HFiles.

Public-format restatement (what, not code): Hudi's ``SimpleBloomFilter``
wraps ``org.apache.hadoop.util.bloom.BloomFilter`` with
``Hash.MURMUR_HASH`` and serializes to a base64 STRING of the Hadoop
writable bytes:

- Filter header (``Filter.write``): int VERSION = -1, int nbHash,
  byte hashType (1 = MURMUR), int vectorSize — all big-endian.
- Bit vector (``InternalBloomFilter.write``): ceil(vectorSize/8) bytes,
  bit i at byte ``i//8`` mask ``1 << (i % 8)`` — LSB-first, the
  ``java.util.BitSet.toByteArray()`` layout Hudi's bloom uses (NOT
  classic Hadoop's MSB-first loop; pinned 30/30 against the bit
  positions of the reference demo's real Hudi-written HFile bloom,
  tests/test_hfile_meta_blocks.py).
- Hashing (``HashFunction.hash``): nbHash CHAINED MurmurHash2-32 rounds
  — ``initval = murmur(key, seed=initval)`` starting at 0, each round's
  bit = ``Math.abs(initval % vectorSize)`` with Java int semantics
  (``Math.abs(Integer.MIN_VALUE)`` overflow included).
- Hadoop's MurmurHash2 reads 4-byte words LITTLE-endian and
  SIGN-EXTENDS the tail bytes (``h ^= (int) data[len-3] << 16`` on a
  signed Java byte) — a faithful tail matters for byte interop.
- Sizing (BloomFilterUtils): vectorSize = ceil(-n·ln p / ln2²),
  nbHash = round(ln2 · vectorSize / n).

Provenance: restated from the public Apache Hadoop/Hudi sources named
above; the environment ships no Hudi jars, so cross-writer byte equality
is pinned by spec + self-consistent roundtrips (the same posture as
model/hudi_hash.py).

Scale: an HFile's bloom covers that file's metadata record keys (KBs);
the base-HFile writer (targets/hudi_metadata_index._write_base) builds it
on the driver from the records it writes.
"""

from __future__ import annotations

import base64
import math
import struct

MURMUR_HASH_TYPE = 1  # Hadoop Hash.MURMUR_HASH ordinal
_VERSION = -1  # Hadoop Filter.VERSION
_M32 = 0xFFFFFFFF


def _i32(x: int) -> int:
    x &= _M32
    return x - 0x100000000 if x >= 0x80000000 else x


def murmur32(data: bytes, seed: int = 0) -> int:
    """Hadoop ``MurmurHash`` (MurmurHash2, 32-bit, little-endian words,
    SIGN-EXTENDED tail) — returns a signed Java int."""
    m = 0x5BD1E995
    r = 24
    h = (seed ^ len(data)) & _M32
    n4 = len(data) >> 2
    for i in range(n4):
        k = int.from_bytes(data[i * 4 : i * 4 + 4], "little")
        k = (k * m) & _M32
        k ^= k >> r
        k = (k * m) & _M32
        h = (h * m) & _M32
        h ^= k
    left = len(data) - (n4 << 2)
    if left:
        # Java: (int) data[i] sign-extends the byte before shifting
        def sb(i: int) -> int:
            b = data[i]
            return b - 256 if b >= 128 else b

        if left >= 3:
            h ^= (sb(len(data) - 3) << 16) & _M32
        if left >= 2:
            h ^= (sb(len(data) - 2) << 8) & _M32
        if left >= 1:
            h ^= sb(len(data) - 1) & _M32
        h &= _M32
        h = (h * m) & _M32
    h ^= h >> 13
    h = (h * m) & _M32
    h ^= h >> 15
    return _i32(h)


def _java_abs_mod(h: int, n: int) -> int:
    """Math.abs(h % n) with Java int semantics (truncated %, MIN_VALUE
    abs overflow) — the bit index Hadoop's HashFunction computes."""
    if h == -(2**31):
        # Math.abs(MIN_VALUE) == MIN_VALUE; MIN % n truncates negative
        r = -((2**31) % n)
    else:
        a = abs(h)
        r = a % n if h >= 0 else -(a % n)
    return abs(r) if r != -(2**31) else r


def bloom_bit_indexes(key: bytes, nb_hash: int, vector_size: int) -> list[int]:
    """The nbHash CHAINED murmur rounds of Hadoop HashFunction.hash."""
    out = []
    initval = 0
    for _ in range(nb_hash):
        initval = murmur32(key, initval)
        out.append(_java_abs_mod(initval, vector_size))
    return out


def bloom_sizing(num_entries: int, fpp: float) -> tuple[int, int]:
    """-> (vectorSize, nbHash) per Hudi BloomFilterUtils."""
    num_entries = max(1, int(num_entries))
    bits = int(math.ceil(-num_entries * math.log(fpp) / (math.log(2) ** 2)))
    nb_hash = max(1, int(round(math.log(2) * bits / num_entries)))
    return bits, nb_hash


class SimpleBloomFilter:
    """Build/probe/serialize a Hudi SIMPLE bloom filter."""

    TYPE_CODE = "SIMPLE"

    def __init__(self, vector_size: int, nb_hash: int, bits: bytearray | None = None):
        self.vector_size = int(vector_size)
        self.nb_hash = int(nb_hash)
        self.bits = bits if bits is not None else bytearray((self.vector_size + 7) // 8)

    @classmethod
    def for_entries(cls, num_entries: int, fpp: float = 0.001) -> "SimpleBloomFilter":
        return cls(*bloom_sizing(num_entries, fpp))

    def add(self, key: str | bytes) -> None:
        b = key.encode("utf-8") if isinstance(key, str) else key
        for i in bloom_bit_indexes(b, self.nb_hash, self.vector_size):
            self.bits[i >> 3] |= 1 << (i & 7)

    def might_contain(self, key: str | bytes) -> bool:
        b = key.encode("utf-8") if isinstance(key, str) else key
        return all(
            self.bits[i >> 3] & (1 << (i & 7))
            for i in bloom_bit_indexes(b, self.nb_hash, self.vector_size)
        )

    def serialize_to_string(self) -> str:
        raw = (
            struct.pack(">iibi", _VERSION, self.nb_hash, MURMUR_HASH_TYPE, self.vector_size)
            + bytes(self.bits)
        )
        return base64.b64encode(raw).decode("ascii")

    @classmethod
    def deserialize_from_string(cls, s: str) -> "SimpleBloomFilter":
        raw = base64.b64decode(s)
        version, nb_hash, hash_type, vector_size = struct.unpack_from(">iibi", raw, 0)
        if version != _VERSION:
            raise ValueError(f"unsupported Hadoop bloom filter version {version}")
        if hash_type != MURMUR_HASH_TYPE:
            raise ValueError(f"unsupported bloom hash type {hash_type} (expected MURMUR=1)")
        n_bytes = (vector_size + 7) // 8
        bits = bytearray(raw[13 : 13 + n_bytes])
        if len(bits) != n_bytes:
            raise ValueError("truncated bloom filter bit vector")
        return cls(vector_size, nb_hash, bits)


class DynamicBloomFilter:
    """Probe-side decode of Hudi's ``DYNAMIC_V0`` bloom
    (HoodieDynamicBoundedBloomFilter wrapping Hadoop's
    ``DynamicBloomFilter``) — what real Hudi writes into HFile
    ``bloomFilter`` META blocks by default (validated byte-level against
    the reference demo's metadata-table HFile,
    tests/test_hfile_meta_blocks.py).

    Serialized layout (Hadoop ``DynamicBloomFilter.write`` after the
    ``Filter.write`` header): outer header (int VERSION=-1, int nbHash,
    byte hashType, int vectorSize) + int nr (records per row) + int
    currentNbRecord + int matrix length + each matrix member as a full
    ``BloomFilter.write`` (header + bit vector).  Membership = any
    matrix member contains the key."""

    TYPE_CODE = "DYNAMIC_V0"

    def __init__(self, members: list[SimpleBloomFilter]):
        self.members = members

    def might_contain(self, key: str | bytes) -> bool:
        return any(m.might_contain(key) for m in self.members)

    @classmethod
    def deserialize_from_string(cls, s: str) -> "DynamicBloomFilter":
        raw = base64.b64decode(s)
        version, _nb_hash, hash_type, _vector_size = struct.unpack_from(">iibi", raw, 0)
        if version != _VERSION:
            raise ValueError(f"unsupported Hadoop bloom filter version {version}")
        if hash_type != MURMUR_HASH_TYPE:
            raise ValueError(f"unsupported bloom hash type {hash_type} (expected MURMUR=1)")
        _nr, _cur, n_matrix = struct.unpack_from(">iii", raw, 13)
        if not 0 <= n_matrix <= 1_000_000:
            raise ValueError(f"implausible DynamicBloomFilter matrix length {n_matrix}")
        pos = 25
        members = []
        for _ in range(n_matrix):
            m_ver, m_nbh, m_ht, m_vs = struct.unpack_from(">iibi", raw, pos)
            if m_ver != _VERSION or m_ht != MURMUR_HASH_TYPE:
                raise ValueError("malformed DynamicBloomFilter matrix member header")
            pos += 13
            n_bytes = (m_vs + 7) // 8
            bits = bytearray(raw[pos : pos + n_bytes])
            if len(bits) != n_bytes:
                raise ValueError("truncated DynamicBloomFilter matrix bit vector")
            pos += n_bytes
            members.append(SimpleBloomFilter(m_vs, m_nbh, bits))
        return cls(members)


def deserialize_bloom(type_code: str, s: str):
    """Dispatch on Hudi's BloomFilterTypeCode (the ``bloomFilterTypeCode``
    HFile file-info entry): SIMPLE | DYNAMIC_V0."""
    code = (type_code or SimpleBloomFilter.TYPE_CODE).strip().upper()
    if code == SimpleBloomFilter.TYPE_CODE:
        return SimpleBloomFilter.deserialize_from_string(s)
    if code == DynamicBloomFilter.TYPE_CODE:
        return DynamicBloomFilter.deserialize_from_string(s)
    raise ValueError(f"unsupported Hudi bloom filter type code {type_code!r}")
