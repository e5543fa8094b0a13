"""model/hudi_hash — real Hudi's metadata record-key hashing scheme
(HashID: XXH64 for 64-bit IDs, MD5 for 128-bit; base64 with padding;
getColumnStatsIndexKey = colID+partitionID+fileID).

The XXH64 implementation is gated on the algorithm's PUBLISHED test
vectors (xxHash spec) — including a >32-byte input that exercises the
4-lane stripe loop — so the only unverifiable-in-env constant is Hudi's
fixed seed (pinned from the public HashID source; no Hudi jars ship in
this container, same validation posture the HFile container layout had
before a real artifact became available)."""

from __future__ import annotations

import base64
import hashlib

from incubator_xtable_spark.model.hudi_hash import (
    COL_STATS_KEY_LEN,
    FILE_ID_B64_LEN,
    HASH_SEED,
    col_stats_index_key,
    column_index_id,
    file_index_id,
    hash_id,
    partition_identifier,
    partition_index_id,
    xxhash64,
)

# Published XXH64 vectors (xxHash repository / spec).
XXH64_VECTORS = [
    (b"", 0, 0xEF46DB3751D8E999),
    (b"a", 0, 0xD24EC4F1A98C6E5B),
    (b"abc", 0, 0x44BC2CF5AD770999),
    # 39 bytes -> exercises the 32-byte stripe loop + tail
    (b"Nobody inspects the spammish repetition", 0, 0xFBCEA83C8A378BF1),
]


def test_xxh64_published_vectors():
    for data, seed, want in XXH64_VECTORS:
        assert xxhash64(data, seed) == want, data


def test_xxh64_seed_changes_value_and_stays_64bit():
    for data in (b"", b"x", b"column_name", b"a" * 100):
        h0, h1 = xxhash64(data, 0), xxhash64(data, HASH_SEED)
        assert 0 <= h0 < 2**64 and 0 <= h1 < 2**64
        assert h0 != h1  # astronomically unlikely to collide


def test_hash_id_shapes():
    assert len(hash_id("anything", 64)) == 8
    assert len(hash_id("anything", 128)) == 16
    # 128-bit is plain MD5
    assert hash_id("n_name", 128) == hashlib.md5(b"n_name").digest()
    # 64-bit is the seeded XXH64, big-endian (Java ByteBuffer.putLong)
    assert hash_id("n_name", 64) == xxhash64(b"n_name", HASH_SEED).to_bytes(8, "big")


def test_index_id_b64_shapes():
    cid, pid, fid = (
        column_index_id("n_name"),
        partition_index_id("."),
        file_index_id("f.parquet"),
    )
    assert len(cid) == 12 and cid.endswith("=")  # 8 bytes -> 12 b64 chars
    assert len(pid) == 12
    assert len(fid) == FILE_ID_B64_LEN and fid.endswith("==")  # 16 bytes
    for s in (cid, pid, fid):
        assert base64.b64decode(s)  # round-trips as standard-alphabet b64


def test_col_stats_key_structure():
    key = col_stats_index_key("2021/01", "abc-0_0-0-0_123.parquet", "n_name")
    assert len(key) == COL_STATS_KEY_LEN == 48
    assert key.startswith(column_index_id("n_name"))
    assert key.endswith(file_index_id("abc-0_0-0-0_123.parquet"))
    assert key[12:24] == partition_index_id("2021/01")
    # the carry/tombstone invariant the index writer relies on
    assert key[-FILE_ID_B64_LEN:] == file_index_id("abc-0_0-0-0_123.parquet")


def test_partition_identifier_root_maps_to_dot():
    assert partition_identifier("") == "."
    assert partition_identifier("a/b") == "a/b"
    k_root = col_stats_index_key("", "f.parquet", "c")
    k_dot = col_stats_index_key(".", "f.parquet", "c")
    assert k_root == k_dot  # getPartitionIdentifier normalization


def test_keys_are_distinct_across_components():
    # distinct columns/files/partitions never share a key
    keys = {
        col_stats_index_key(p, f, c)
        for p in ("", "a", "b/c")
        for f in ("f1.parquet", "f2.parquet")
        for c in ("c1", "c2", "c3")
    }
    assert len(keys) == 3 * 2 * 3
