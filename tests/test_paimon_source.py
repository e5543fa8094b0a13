"""Paimon source differential tests — mirrors the scenarios of the
reference's paimon/TestPaimonConversionSource.java (snapshot scan,
partitioned + unpartitioned, empty table, incremental diffs/backlog/
safety, primary-key top-level filtering, stats extraction) plus
conversion row-parity through the controller (ITConversionController
checkDatasetEquivalence analog)."""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

import pytest

from incubator_xtable_spark.model.core import (
    InstantsForIncrementalSync,
    SyncStatusCode,
    TableFormat,
)
from incubator_xtable_spark.model.paimon_binary import (
    PaimonFieldType,
    decode_binary_row,
    decode_long_array,
    encode_binary_row,
    encode_long_array,
)
from incubator_xtable_spark.model.stat_codec import decode_stat
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.paimon_source import (
    PaimonConversionSource,
    parse_paimon_type,
    read_paimon_as_df,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from .paimon_testtable import PaimonTestTable
from .model_tables import model_rows

FIELDS = [
    ("id", "INT NOT NULL"),
    ("name", "STRING"),
    ("score", "DOUBLE"),
    ("level", "STRING NOT NULL"),
]


def _mkrows(start, n, level):
    return [
        {
            "id": start + i,
            "name": f"name-{start + i}" if (start + i) % 5 else None,
            "score": float(start + i) / 2.0,
            "level": level,
        }
        for i in range(n)
    ]


@pytest.fixture()
def part_table(spark, tmp_path):
    t = PaimonTestTable(
        spark, str(tmp_path / "pt"), FIELDS, partition_keys=["level"]
    ).create()
    t.append(_mkrows(0, 10, "INFO") + _mkrows(10, 5, "ERROR"))
    t.append(_mkrows(15, 7, "INFO"))
    return t


# -- binary codec ----------------------------------------------------------


def test_binary_row_roundtrip_types():
    types = [
        PaimonFieldType("int"),
        PaimonFieldType("bigint"),
        PaimonFieldType("string"),  # compact (<=7 bytes)
        PaimonFieldType("string"),  # var-length
        PaimonFieldType("double"),
        PaimonFieldType("boolean"),
        PaimonFieldType("date"),
        PaimonFieldType("timestamp", 6),
        PaimonFieldType("decimal", 10, 2),
        PaimonFieldType("decimal", 28, 4),
        PaimonFieldType("bytes"),
        PaimonFieldType("float"),
    ]
    values = [
        -42,
        1 << 40,
        "abc",
        "a longer string exceeding seven bytes",
        3.5,
        True,
        19723,
        (1_700_000_123_456, 789_000),
        Decimal("12345.67"),
        Decimal("123456789012345678901234.5678"),
        b"\x00\x01\xfe\xff" * 3,
        1.25,
    ]
    out = decode_binary_row(encode_binary_row(types, values), types)
    assert out == values


def test_binary_row_nulls_and_empty():
    types = [PaimonFieldType("int"), PaimonFieldType("string"), PaimonFieldType("double")]
    assert decode_binary_row(encode_binary_row(types, [None, None, None]), types) == [
        None,
        None,
        None,
    ]
    assert decode_binary_row(encode_binary_row([], []), []) == []
    assert decode_long_array(encode_long_array([0, 7, None, 1 << 50])) == [0, 7, None, 1 << 50]


def test_binary_row_many_fields():
    # arity > 56 exercises the multi-word null bitset
    types = [PaimonFieldType("bigint")] * 70
    values = [i * 1000 + 7 for i in range(70)]
    values[3] = None
    values[69] = None
    assert decode_binary_row(encode_binary_row(types, values), types) == values


def test_parse_paimon_type_shapes():
    from pyspark.sql import types as T

    assert parse_paimon_type("INT NOT NULL")[0] == T.IntegerType()
    assert parse_paimon_type("INT NOT NULL")[2] is False
    assert parse_paimon_type("DECIMAL(12, 3)")[0] == T.DecimalType(12, 3)
    assert parse_paimon_type("TIMESTAMP(3)")[1].precision == 3
    t, _, _ = parse_paimon_type("ARRAY<INT>")
    assert t == T.ArrayType(T.IntegerType(), True)
    t, _, _ = parse_paimon_type("MAP<STRING, DOUBLE>")
    assert t == T.MapType(T.StringType(), T.DoubleType(), True)
    t, _, _ = parse_paimon_type("ROW<`a` INT NOT NULL, `b` STRING>")
    assert [f.name for f in t.fields] == ["a", "b"]
    assert t["a"].nullable is False


# -- snapshot scan ---------------------------------------------------------


def test_snapshot_partitioned(spark, part_table):
    src = PaimonConversionSource(spark, part_table.base)
    snap = src.get_current_snapshot()
    files = model_rows(snap.files)
    # 2 partitions in commit 1 + 1 partition in commit 2 = 3 data files
    assert len(files) == 3
    assert snap.version == "2"
    by_part = {}
    for f in files:
        assert f["physical_path"].startswith(part_table.base)
        assert "/bucket-0/" in f["physical_path"]
        assert f["file_format"] == "PARQUET"
        assert f["size_bytes"] > 0
        by_part.setdefault(f["partition_values"]["level"], []).append(f)
    assert sorted(by_part) == ["ERROR", "INFO"]
    assert sum(f["record_count"] for f in by_part["INFO"]) == 17
    assert sum(f["record_count"] for f in by_part["ERROR"]) == 5
    # table metadata
    t = snap.table
    assert t.table_format == TableFormat.PAIMON
    assert [pf.source_field for pf in t.partition_fields] == ["level"]
    assert [f.name for f in t.read_schema.fields] == ["id", "name", "score", "level"]
    assert t.read_schema["id"].nullable is False


def test_snapshot_read_rows(spark, part_table):
    df = read_paimon_as_df(spark, part_table.base)
    rows = {tuple(r) for r in df.collect()}
    assert len(rows) == 22
    assert (0, None, 0.0, "INFO") in rows
    assert (14, "name-14", 7.0, "ERROR") in rows
    assert (21, "name-21", 10.5, "INFO") in rows
    # time travel: snapshot 1 has only the first commit's 15 rows
    df1 = read_paimon_as_df(spark, part_table.base, snapshot_id=1)
    assert df1.count() == 15


def test_snapshot_unpartitioned(spark, tmp_path):
    t = PaimonTestTable(spark, str(tmp_path / "unpart"), FIELDS).create()
    t.append(_mkrows(0, 8, "INFO"))
    src = PaimonConversionSource(spark, t.base)
    snap = src.get_current_snapshot()
    files = model_rows(snap.files)
    assert len(files) == 1
    assert files[0]["partition_values"] is None
    assert "/bucket-0/" in files[0]["physical_path"]
    assert snap.table.partition_fields == []
    assert read_paimon_as_df(spark, t.base).count() == 8


def test_empty_table_raises(spark, tmp_path):
    t = PaimonTestTable(spark, str(tmp_path / "empty"), FIELDS).create()
    src = PaimonConversionSource(spark, t.base)
    with pytest.raises(ValueError, match="No snapshots"):
        src.get_current_snapshot()
    assert src.is_incremental_sync_safe_from("1") is False


# -- stats -----------------------------------------------------------------


def test_stats_extraction(spark, part_table):
    src = PaimonConversionSource(spark, part_table.base)
    snap = src.get_current_snapshot()
    f = next(
        f
        for f in model_rows(snap.files)
        if f["partition_values"]["level"] == "ERROR"
    )
    # rows 10..14: name null when id % 5 == 0 (id=10)
    st = f["column_stats"]
    from pyspark.sql import types as T

    assert decode_stat(st["id"]["min_json"], T.IntegerType()) == 10
    assert decode_stat(st["id"]["max_json"], T.IntegerType()) == 14
    assert st["id"]["null_count"] == 0
    assert decode_stat(st["name"]["min_json"], T.StringType()) == "name-11"
    assert st["name"]["null_count"] == 1
    assert decode_stat(st["score"]["min_json"], T.DoubleType()) == 5.0
    assert decode_stat(st["score"]["max_json"], T.DoubleType()) == 7.0
    # partition columns are stored in the data files too, so they carry
    # value stats like any other field
    assert decode_stat(st["level"]["min_json"], T.StringType()) == "ERROR"
    assert decode_stat(st["level"]["max_json"], T.StringType()) == "ERROR"


def test_stats_cols_subset(spark, tmp_path):
    t = PaimonTestTable(
        spark, str(tmp_path / "sub"), FIELDS, partition_keys=["level"], stats_cols=["id"]
    ).create()
    t.append(_mkrows(0, 6, "INFO"))
    src = PaimonConversionSource(spark, t.base)
    f = model_rows(src.get_current_snapshot().files)[0]
    assert set(f["column_stats"].keys()) == {"id"}


def test_stats_typed_columns(spark, tmp_path):
    fields = [
        ("id", "INT NOT NULL"),
        ("d", "DATE"),
        ("ts", "TIMESTAMP(6)"),
        ("amt", "DECIMAL(10, 2)"),
    ]
    t = PaimonTestTable(spark, str(tmp_path / "typed"), fields).create()
    rows = [
        {
            "id": i,
            "d": datetime.date(2024, 1, 1 + i),
            "ts": datetime.datetime(2024, 1, 1, 12, 0, i, 123456),
            "amt": Decimal(f"{100 + i}.25"),
        }
        for i in range(4)
    ]
    t.append(rows)
    src = PaimonConversionSource(spark, t.base)
    st = model_rows(src.get_current_snapshot().files)[0]["column_stats"]
    from pyspark.sql import types as T

    assert decode_stat(st["d"]["min_json"], T.DateType()) == datetime.date(2024, 1, 1)
    assert decode_stat(st["d"]["max_json"], T.DateType()) == datetime.date(2024, 1, 4)
    assert decode_stat(st["ts"]["min_json"], T.TimestampNTZType()) == datetime.datetime(
        2024, 1, 1, 12, 0, 0, 123456
    )
    assert decode_stat(st["amt"]["max_json"], T.DecimalType(10, 2)) == Decimal("103.25")


# -- incremental -----------------------------------------------------------


def test_commit_diff_append_and_overwrite(spark, part_table):
    src = PaimonConversionSource(spark, part_table.base)
    ch2 = src.get_table_change_for_commit("2")
    assert ch2.files_added.num_rows == 1
    assert ch2.files_removed.num_rows == 0
    added = model_rows(ch2.files_added)[0]
    assert added["partition_values"]["level"] == "INFO"
    assert added["record_count"] == 7

    # overwrite the ERROR partition's file
    snap = src.get_current_snapshot()
    err_entry = next(
        e
        for e in src._merged_live_entries(src._snapshot(2))
        if model_rows(src._to_inventory([e], src._schema(0)))[0]["partition_values"]["level"]
        == "ERROR"
    )
    sid, _ = part_table.overwrite([err_entry], _mkrows(100, 3, "ERROR"))
    ch3 = src.get_table_change_for_commit(str(sid))
    assert ch3.files_added.num_rows == 1
    assert ch3.files_removed.num_rows == 1
    assert model_rows(ch3.files_removed)[0]["partition_values"]["level"] == "ERROR"
    # full view after overwrite
    rows = {r.id for r in read_paimon_as_df(spark, part_table.base).collect()}
    assert {100, 101, 102} <= rows
    assert not any(10 <= i <= 14 for i in rows)


def test_commits_backlog_and_safety(spark, part_table):
    src = PaimonConversionSource(spark, part_table.base)
    backlog = src.get_commits_backlog(InstantsForIncrementalSync(last_sync_instant="1"))
    assert backlog.commits_to_process == ["2"]
    assert src.get_commits_backlog(
        InstantsForIncrementalSync(last_sync_instant="0")
    ).commits_to_process == ["1", "2"]
    # safety: in-range ok, future not ok
    assert src.is_incremental_sync_safe_from("1") is True
    assert src.is_incremental_sync_safe_from("2") is True
    assert src.is_incremental_sync_safe_from("99") is False
    # expiration moves EARLIEST: instants before it unsafe
    part_table.expire_snapshots_before(2)
    assert src.is_incremental_sync_safe_from("1") is False
    assert src.is_incremental_sync_safe_from("2") is True


def test_commit_identifier(spark, part_table):
    src = PaimonConversionSource(spark, part_table.base)
    assert src.get_commit_identifier("1") == "1"
    assert src.get_commit_identifier("2") == "2"


# -- primary-key tables ----------------------------------------------------


def test_primary_key_top_level_only(spark, tmp_path):
    t = PaimonTestTable(
        spark,
        str(tmp_path / "pk"),
        FIELDS,
        partition_keys=["level"],
        primary_keys=["id"],
    ).create()
    _, e1 = t.append(_mkrows(0, 5, "INFO"), level=0)
    _, e2 = t.append(_mkrows(5, 5, "INFO"), level=0)
    src = PaimonConversionSource(spark, t.base)
    # only level-0 files exist -> read-optimized view is empty
    assert src.get_current_snapshot().files.num_rows == 0
    # compaction merges to the top level (num-levels default 6 -> level 5)
    sid, _ = t.compact(e1 + e2, _mkrows(0, 10, "INFO"), top_level=5)
    snap = src.get_current_snapshot()
    files = model_rows(snap.files)
    assert len(files) == 1
    assert files[0]["record_count"] == 10
    # the compact commit's diff contains ONLY the top-level add (the
    # level-0 deletes are below the top level and are filtered)
    ch = src.get_table_change_for_commit(str(sid))
    assert ch.files_added.num_rows == 1
    assert ch.files_removed.num_rows == 0
    assert read_paimon_as_df(spark, t.base).count() == 10


# -- conversion through the controller -------------------------------------


def test_paimon_to_delta_row_parity(spark, part_table):
    target = DeltaConversionTarget(spark, part_table.base)
    results = ConversionController().sync(
        PaimonConversionSource(spark, part_table.base, name="pt"),
        {TableFormat.DELTA: target},
    )
    assert results[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, results
    paimon_rows = {tuple(r) for r in read_paimon_as_df(spark, part_table.base).collect()}
    delta_rows = {
        tuple(r)
        for r in read_delta_as_df(spark, part_table.base)
        .select("id", "name", "score", "level")
        .collect()
    }
    assert delta_rows == paimon_rows

    # incremental: another append then re-sync picks up only the delta
    part_table.append(_mkrows(50, 4, "WARN"))
    results = ConversionController().sync(
        PaimonConversionSource(spark, part_table.base, name="pt"),
        {TableFormat.DELTA: target},
    )
    assert results[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, results
    assert results[TableFormat.DELTA].mode.value == "INCREMENTAL"
    delta_rows = {
        tuple(r)
        for r in read_delta_as_df(spark, part_table.base)
        .select("id", "name", "score", "level")
        .collect()
    }
    paimon_rows = {tuple(r) for r in read_paimon_as_df(spark, part_table.base).collect()}
    assert delta_rows == paimon_rows
    assert len(delta_rows) == 26


def test_schema_evolution(spark, tmp_path):
    """schema-N chain: a snapshot reads with ITS schema id; files written
    under the old schema keep stats decodable (per-file _SCHEMA_ID) and
    read back with nulls for the added column."""
    t = PaimonTestTable(spark, str(tmp_path / "evo"), FIELDS, partition_keys=["level"]).create()
    t.append(_mkrows(0, 6, "INFO"))
    t.evolve(FIELDS + [("rank", "INT")])
    rows2 = [dict(r, rank=r["id"] * 10) for r in _mkrows(6, 4, "INFO")]
    t.append(rows2)

    src = PaimonConversionSource(spark, t.base)
    # table at the new snapshot has the evolved schema
    table = src.get_current_table()
    assert [f.name for f in table.read_schema.fields] == ["id", "name", "score", "level", "rank"]
    # table at snapshot 1 still reports the original schema
    assert [f.name for f in src.get_table(1).read_schema.fields] == [
        "id",
        "name",
        "score",
        "level",
    ]
    # both files inventory with per-write-schema stats intact
    files = model_rows(src.get_current_snapshot().files)
    assert len(files) == 2
    by_count = {f["record_count"]: f for f in files}
    assert "rank" not in by_count[6]["column_stats"]  # old file: no rank stats
    assert by_count[4]["column_stats"]["rank"]["null_count"] == 0
    # read: old rows surface NULL rank
    df = read_paimon_as_df(spark, t.base)
    got = {r["id"]: r["rank"] for r in df.collect()}
    assert got[0] is None and got[7] == 70
    assert df.count() == 10


def test_paimon_multi_target_equivalence(spark, part_table):
    """One Paimon source -> Delta AND Hudi AND Iceberg targets in ONE
    sync; all four read paths produce identical rows
    (ITConversionController.checkDatasetEquivalence analog)."""
    from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
    from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    base = part_table.base
    targets = {
        TableFormat.DELTA: DeltaConversionTarget(spark, base),
        TableFormat.HUDI: HudiConversionTarget(spark, base, table_name="pt"),
        TableFormat.ICEBERG: IcebergConversionTarget(spark, base, table_name="pt"),
    }
    results = ConversionController().sync(
        PaimonConversionSource(spark, base, name="pt"), targets
    )
    for fmt, res in results.items():
        assert res.status == SyncStatusCode.SUCCESS, (fmt, res.error)

    cols = ["id", "name", "score", "level"]
    via_paimon = {tuple(r) for r in read_paimon_as_df(spark, base).select(cols).collect()}
    via_delta = {tuple(r) for r in read_delta_as_df(spark, base).select(cols).collect()}
    via_hudi = {tuple(r) for r in read_hudi_as_df(spark, base).select(cols).collect()}
    via_iceberg = {tuple(r) for r in read_iceberg_as_df(spark, base).select(cols).collect()}
    assert via_paimon == via_delta == via_hudi == via_iceberg
    assert len(via_paimon) == 22


def test_binary_row_small_int_sign_and_layout():
    """Real Paimon writes ONE byte for tinyint / TWO for smallint: the
    reader must sign-extend from the narrow width (a 4-byte read turns
    -1 into 255), and the writer must produce that spec layout."""
    types = [PaimonFieldType("tinyint"), PaimonFieldType("smallint")]
    blob = encode_binary_row(types, [-1, -2])
    # spec layout: slot 0 byte0 = 0xff then zeros; slot 1 bytes = fe ff
    assert blob[8] == 0xFF and blob[9] == 0x00
    assert blob[16] == 0xFE and blob[17] == 0xFF and blob[18] == 0x00
    assert decode_binary_row(blob, types) == [-1, -2]
    # a slot written by real Paimon (single byte, rest zero) decodes signed
    raw = b"\x00" * 8 + b"\xff" + b"\x00" * 7 + b"\x80\xff" + b"\x00" * 6
    assert decode_binary_row(raw, types) == [-1, -128]


def test_timestamp_partition_key(spark, tmp_path):
    """TIMESTAMP partition keys render LocalDateTime-style directory
    segments (not Python tuple reprs) and round-trip through paths."""
    fields = [("id", "INT NOT NULL"), ("hr", "TIMESTAMP(6) NOT NULL")]
    t = PaimonTestTable(
        spark, str(tmp_path / "tspart"), fields, partition_keys=["hr"]
    ).create()
    hr = datetime.datetime(2024, 3, 1, 12, 0)
    t.append([{"id": i, "hr": hr} for i in range(4)])
    src = PaimonConversionSource(spark, t.base)
    f = model_rows(src.get_current_snapshot().files)[0]
    assert f["partition_values"]["hr"] == "2024-03-01T12:00"
    assert "/hr=2024-03-01T12:00/" in f["physical_path"]
    assert os.path.exists(f["physical_path"])
    assert read_paimon_as_df(spark, t.base).count() == 4
