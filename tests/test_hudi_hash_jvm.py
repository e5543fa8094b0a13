"""Cross-engine validation of the hashed Hudi metadata index keys
against the JVM.

Real Hudi's ``org.apache.hudi.common.util.hash.HashID`` computes its
64-bit IDs with ``net.openhft.hashing.LongHashFunction.xx(seed)`` (the
zero-allocation-hashing library) and its 128-bit IDs with MD5, then
Base64-encodes the big-endian bytes (``ByteBuffer.putLong``). The
environment ships no Hudi jars, but the machine's artifact cache
carries the very hashing library Hudi delegates to — so this suite
compiles a tiny Java driver against it and pins the engine's
pure-python ``model/hudi_hash.py`` byte-for-byte against the JVM on the
full pipeline: XXH64(seed)→big-endian→Base64, MD5→Base64, and the
assembled 48-char getColumnStatsIndexKey and the
getPartitionStatsIndexKey shape
(HoodieMetadataPayload; consumed by ref
hudi/HudiFileStatsExtractor.java:99-186 via point lookups).

What this does NOT cover (documented in hudi_hash.py): which SOURCE
string feeds which ID (partition identifier mapping, field order) —
that part is restated from the public Hudi sources and cannot be
cross-checked without a real Hudi writer in the env.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess

import pytest

from incubator_xtable_spark.model.hudi_hash import (
    HASH_SEED,
    col_stats_index_key,
    column_index_id,
    file_index_id,
    partition_identifier,
    partition_index_id,
    xxhash64,
)

# any local maven/coursier-style cache layout: .../net/openhft/
# zero-allocation-hashing/<version>/zero-allocation-hashing-<version>.jar
_ZAH_GLOB = (
    "/root/.cache/coursier/**/net/openhft/"
    "zero-allocation-hashing/*/zero-allocation-hashing-*.jar"
)


def _find_zah_jar() -> str | None:
    hits = sorted(glob.glob(_ZAH_GLOB, recursive=True))
    return hits[-1] if hits else None


_JAR = _find_zah_jar()
_HAVE_JDK = shutil.which("javac") is not None and shutil.which("java") is not None

pytestmark = pytest.mark.skipif(
    _JAR is None or not _HAVE_JDK,
    reason="zero-allocation-hashing jar or JDK tools absent",
)

# message corpus: xxh64 boundary lengths (0/1/3/4/7/8/31/32/33/100),
# realistic column/partition/file names, unicode incl. astral plane
MESSAGES = [
    "",
    "a",
    "abc",
    "abcd",
    "1234567",
    "12345678",
    "x" * 31,
    "x" * 32,
    "x" * 33,
    "n_nationkey",
    "l_shipdate",
    "year=2024/month=07/day=15",
    ".",
    "c8e0f3a5-0f12-4d7b-9f9e-000000000001-0_1-2-3_20240101010101000.parquet",
    "col_äöü_名前",
    "emoji_\U0001f600_key",
    "p" * 100,
]


def _run_java(tmp_path) -> dict[str, tuple[str, str]]:
    """Compile+run the JVM driver -> {message: (b64(xx64 big-endian),
    b64(md5))}, using the exact library + encoding calls real Hudi's
    HashID makes."""
    src = tmp_path / "HashProbe.java"
    src.write_text(
        """
import java.nio.ByteBuffer;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.security.MessageDigest;
import java.util.Base64;
import net.openhft.hashing.LongHashFunction;

public class HashProbe {
  public static void main(String[] args) throws Exception {
    long seed = Long.parseLong(args[1]);
    for (String line : Files.readAllLines(Paths.get(args[0]))) {
      byte[] msg = line.getBytes(StandardCharsets.UTF_8);
      long h64 = LongHashFunction.xx(seed).hashBytes(ByteBuffer.wrap(msg));
      String xx = Base64.getEncoder()
          .encodeToString(ByteBuffer.allocate(Long.BYTES).putLong(h64).array());
      String md5 = Base64.getEncoder()
          .encodeToString(MessageDigest.getInstance("MD5").digest(msg));
      System.out.println(xx + "\\t" + md5);
    }
  }
}
"""
    )
    msgs_file = tmp_path / "messages.txt"
    # one message per line: the corpus deliberately has no newlines
    msgs_file.write_text("\n".join(MESSAGES))
    subprocess.run(
        ["javac", "-cp", _JAR, str(src)],
        cwd=tmp_path,
        check=True,
        capture_output=True,
    )
    out = subprocess.run(
        [
            "java",
            "-cp",
            f"{_JAR}{os.pathsep}{tmp_path}",
            "HashProbe",
            str(msgs_file),
            str(HASH_SEED),
        ],
        check=True,
        capture_output=True,
        text=True,
    ).stdout.splitlines()
    assert len(out) == len(MESSAGES)
    return {m: tuple(line.split("\t")) for m, line in zip(MESSAGES, out)}


@pytest.fixture(scope="module")
def jvm_hashes(tmp_path_factory):
    return _run_java(tmp_path_factory.mktemp("hashprobe"))


def test_xx64_id_matches_jvm_library(jvm_hashes):
    """ColumnIndexID/PartitionIndexID pipeline == the JVM: XXH64 with
    HashID's seed, big-endian 8 bytes, standard Base64 with padding."""
    for m, (xx_b64, _md5_b64) in jvm_hashes.items():
        assert column_index_id(m) == xx_b64, m
        assert partition_index_id(m) == xx_b64, m


def test_md5_id_matches_jvm(jvm_hashes):
    for m, (_xx_b64, md5_b64) in jvm_hashes.items():
        assert file_index_id(m) == md5_b64, m


def test_raw_xx64_long_value_matches(jvm_hashes):
    """The raw 64-bit value (before byte packing) agrees too — isolates
    a packing bug from a hash bug if the b64 comparison ever breaks."""
    import base64

    for m, (xx_b64, _md5) in jvm_hashes.items():
        jvm_long = int.from_bytes(base64.b64decode(xx_b64), "big")
        assert xxhash64(m.encode("utf-8"), HASH_SEED) == jvm_long, m


def test_assembled_col_stats_key_matches_jvm(jvm_hashes):
    """Full getColumnStatsIndexKey assembly: columnID + partitionID +
    fileID, with '' mapping to '.' for the partition identifier."""
    col, part, fname = (
        "n_nationkey",
        "year=2024/month=07/day=15",
        "c8e0f3a5-0f12-4d7b-9f9e-000000000001-0_1-2-3_20240101010101000.parquet",
    )
    expected = (
        jvm_hashes[col][0] + jvm_hashes[part][0] + jvm_hashes[fname][1]
    )
    assert col_stats_index_key(part, fname, col) == expected
    assert len(expected) == 48
    # unpartitioned: partition identifier is "."
    expected_root = jvm_hashes[col][0] + jvm_hashes["."][0] + jvm_hashes[fname][1]
    assert col_stats_index_key("", fname, col) == expected_root
    assert partition_identifier("") == "."


def test_partition_stats_and_bloom_key_shapes_match_jvm(jvm_hashes):
    from incubator_xtable_spark.model.hudi_hash import partition_stats_index_key

    col, part = "l_shipdate", "year=2024/month=07/day=15"
    assert partition_stats_index_key(part, col) == (
        jvm_hashes[col][0] + jvm_hashes[part][0]
    )


# ---------------------------------------------------------------------------
# Source-string recipe probe against REAL hudi-common (VERDICT r10 #3)
# ---------------------------------------------------------------------------
# The gap the suite above leaves open: WHICH string feeds which ID —
# ColumnIndexID(column) vs PartitionIndexID(getPartitionIdentifier(part))
# vs FileIndexID(fileName), and the col_stats / partition_stats key
# assembly — is restated from public Hudi sources. The
# probe below pins it against the real classes whenever a hudi-common
# jar exists in any local artifact cache.
#
# NEGATIVE PROBE RESULT (round 11, 2026-08): a filesystem-wide search
# (`find / -name 'hudi-*.jar'`, plus the coursier/.m2/.ivy2 glob set
# below) finds NO hudi-common anywhere on this machine — the coursier
# cache carries only Hudi's hashing DEPENDENCY (zero-allocation-hashing,
# pinned above). The reference demo's real-Hudi artifact
# (demo/data/db/hudi_dimCustomer/.hoodie/metadata) ships only the
# READABLE-KEY `files` partition (already pinned by
# test_hudi_files_index.py and the bloom META block tests) — no
# hashed-key col_stats partition exists in it. This test therefore
# SKIPS today and becomes a live gate the moment a jar appears.

_HUDI_COMMON_GLOBS = [
    "/root/.cache/coursier/**/org/apache/hudi/hudi-common/*/hudi-common-*.jar",
    "/root/.m2/**/hudi-common-*.jar",
    "/root/.ivy2/**/hudi-common-*.jar",
    "/opt/**/hudi-common-*.jar",
    "/usr/local/**/hudi-common-*.jar",
]


def _find_hudi_common_jar() -> str | None:
    for pattern in _HUDI_COMMON_GLOBS:
        hits = sorted(glob.glob(pattern, recursive=True))
        if hits:
            return hits[-1]
    return None


def test_key_source_string_recipes_vs_real_hudi(tmp_path):
    jar = _find_hudi_common_jar()
    if jar is None:
        pytest.skip(
            "negative probe: no hudi-common jar in any local artifact cache "
            "(coursier/.m2/.ivy2/opt/usr-local); ID-to-source-string "
            "recipes remain restated from public Hudi sources — see the "
            "probe docstring for what the reference demo artifact does and "
            "does not cover"
        )
    src = tmp_path / "KeyProbe.java"
    # reflection keeps the probe compilable against any hudi-common
    # version (method homes moved across releases); it prints one
    # tab-separated line per case: colID, partID, fileID, colStatsKey
    src.write_text(
        """
import java.lang.reflect.Method;

public class KeyProbe {
  static String call(String cls, String method, String arg) throws Exception {
    Class<?> c = Class.forName(cls);
    Object o = c.getConstructor(String.class).newInstance(arg);
    return (String) c.getMethod("asBase64EncodedString").invoke(o);
  }
  public static void main(String[] args) throws Exception {
    String col = args[0], part = args[1], file = args[2];
    Class<?> util = Class.forName(
        "org.apache.hudi.metadata.HoodieTableMetadataUtil");
    Method pid = util.getMethod("getPartitionIdentifier", String.class);
    String partIdent = (String) pid.invoke(null, part);
    String colId = call("org.apache.hudi.common.util.hash.ColumnIndexID", "ColumnIndexID", col);
    String partId = call("org.apache.hudi.common.util.hash.PartitionIndexID", "PartitionIndexID", partIdent);
    String fileId = call("org.apache.hudi.common.util.hash.FileIndexID", "FileIndexID", file);
    String key = "";
    try {
      Class<?> payload = Class.forName("org.apache.hudi.metadata.HoodieMetadataPayload");
      Method m = payload.getMethod(
          "getColumnStatsIndexKey", String.class, String.class, String.class);
      key = (String) m.invoke(null, part, file, col);
    } catch (Throwable t) {
      key = "UNAVAILABLE:" + t.getClass().getSimpleName();
    }
    System.out.println(colId + "\\t" + partId + "\\t" + fileId + "\\t" + key);
  }
}
"""
    )
    subprocess.run(
        ["javac", str(src)], cwd=tmp_path, check=True, capture_output=True
    )
    col, part, fname = (
        "n_nationkey",
        "year=2024/month=07/day=15",
        "c8e0f3a5-0f12-4d7b-9f9e-000000000001-0_1-2-3_20240101010101000.parquet",
    )
    out = subprocess.run(
        ["java", "-cp", f"{jar}{os.pathsep}{_JAR}{os.pathsep}{tmp_path}",
         "KeyProbe", col, part, fname],
        check=True,
        capture_output=True,
        text=True,
    ).stdout.strip().split("\t")
    jvm_col_id, jvm_part_id, jvm_file_id, jvm_key = out
    assert column_index_id(col) == jvm_col_id
    assert partition_index_id(partition_identifier(part)) == jvm_part_id
    assert file_index_id(fname) == jvm_file_id
    if not jvm_key.startswith("UNAVAILABLE:"):
        assert col_stats_index_key(part, fname, col) == jvm_key
