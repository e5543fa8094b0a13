"""The Hadoop-format bloom codec real Hudi uses in parquet footers and in
metadata-table HFiles' ``bloomFilter`` meta block.

Codec gates: Hadoop Filter header shape, MSB-first bit vector, chained
murmur2 rounds with Java int semantics, serialize/deserialize roundtrip,
membership soundness (no false negatives) and bounded false positives."""

from __future__ import annotations

import base64
import struct

import pytest

from incubator_xtable_spark.model.hudi_bloom import (
    SimpleBloomFilter,
    bloom_bit_indexes,
    bloom_sizing,
    murmur32,
)


def test_murmur32_java_int_semantics():
    # stays in signed-int32 range, deterministic, seed-chained
    for data in (b"", b"a", b"key-001", b"\xff\xfe\xfd", b"x" * 100):
        h = murmur32(data)
        assert -(2**31) <= h < 2**31
        assert murmur32(data) == h
        assert murmur32(data, seed=h) != h or data == b""
    # sign-extended tail: a high-bit tail byte must differ from the
    # zero-extended interpretation (regression pin for the Java variant)
    assert murmur32(b"\x00\x00\x00\x00\xff") != murmur32(b"\x00\x00\x00\x00\x7f")


def test_bit_indexes_chained_and_bounded():
    idx = bloom_bit_indexes(b"key", 5, 1000)
    assert len(idx) == 5 and all(0 <= i < 1000 for i in idx)
    # chaining: each round seeds the next — prefix invariance
    assert bloom_bit_indexes(b"key", 3, 1000) == idx[:3]


def test_sizing_matches_formula():
    bits, nb = bloom_sizing(60000, 1e-9)
    assert bits > 60000 * 40  # ~43 bits/key at 1e-9
    assert 25 <= nb <= 35


def test_serialized_header_is_hadoop_writable_shape():
    bf = SimpleBloomFilter(96, 3)
    bf.add("k1")
    raw = base64.b64decode(bf.serialize_to_string())
    version, nb_hash, hash_type, vector_size = struct.unpack_from(">iibi", raw, 0)
    assert (version, nb_hash, hash_type, vector_size) == (-1, 3, 1, 96)
    assert len(raw) == 13 + 12  # header + ceil(96/8) bit bytes


def test_membership_roundtrip_and_fpr():
    bf = SimpleBloomFilter.for_entries(500, 0.001)
    keys = [f"k{i}" for i in range(500)]
    for k in keys:
        bf.add(k)
    bf2 = SimpleBloomFilter.deserialize_from_string(bf.serialize_to_string())
    assert all(bf2.might_contain(k) for k in keys)  # zero false negatives
    fp = sum(bf2.might_contain(f"absent{i}") for i in range(5000))
    assert fp < 50  # 10x the 0.001 target as a loose statistical bound


def test_corrupt_header_refuses():
    with pytest.raises(ValueError, match="version"):
        SimpleBloomFilter.deserialize_from_string(
            base64.b64encode(struct.pack(">iibi", 7, 3, 1, 96) + b"\0" * 12).decode()
        )
    with pytest.raises(ValueError, match="hash type"):
        SimpleBloomFilter.deserialize_from_string(
            base64.b64encode(struct.pack(">iibi", -1, 3, 0, 96) + b"\0" * 12).decode()
        )
