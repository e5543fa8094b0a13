"""file_format honored end-to-end (VERDICT r6 #2): Delta provider/extension
mapping (ref delta/DeltaActionsConverter.java:91-97, model/storage/
FileFormat.java:26-30), ORC tags surviving a Delta→Iceberg conversion, and
every parquet-based row-level reader refusing loudly — naming the file —
instead of silently parsing a non-parquet file as parquet."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.model.file_formats import (
    format_expr,
    from_delta_provider,
    from_extension,
    from_iceberg_manifest,
    require_parquet,
    to_iceberg_manifest,
)
from incubator_xtable_spark.model.iceberg_manifests import live_entries
from incubator_xtable_spark.sources.delta_source import (
    DeltaConversionSource,
    read_delta_as_df,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget
from .model_tables import model_rows

SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
            {"name": "label", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def test_mapping_helpers():
    assert from_delta_provider("parquet") == "PARQUET"
    assert from_delta_provider(None) == "PARQUET"  # spec default
    assert from_delta_provider("orc") == "APACHE_ORC"
    with pytest.raises(ValueError, match="not recognized"):
        from_delta_provider("hfile")
    assert from_extension("/a/b/part-0.parquet") == "PARQUET"
    assert from_extension("/a/b/part-0.ORC") == "APACHE_ORC"
    assert from_extension("/a/b/part-0.avro") == "APACHE_AVRO"
    assert from_extension("/a/b/no-ext", default="APACHE_ORC") == "APACHE_ORC"
    assert from_iceberg_manifest("ORC") == "APACHE_ORC"
    assert from_iceberg_manifest(None) == "PARQUET"
    assert to_iceberg_manifest("APACHE_AVRO") == "AVRO"
    assert to_iceberg_manifest("PARQUET") == "PARQUET"
    with pytest.raises(ValueError):
        from_iceberg_manifest("PUFFIN")
    require_parquet([("/x/a.parquet", "PARQUET")], reader="t")  # no raise
    with pytest.raises(NotImplementedError, match=r"a\.orc.*APACHE_ORC"):
        require_parquet([("/x/a.orc", None)], reader="t")


def test_format_expr_is_jvm_side(spark):
    df = spark.createDataFrame(
        [("/t/a.parquet",), ("/t/b.orc",), ("/t/c.avro",), ("/t/d",)], ["p"]
    )
    got = {r["p"]: r["f"] for r in df.select("p", format_expr(df.p).alias("f")).collect()}
    assert got == {
        "/t/a.parquet": "PARQUET",
        "/t/b.orc": "APACHE_ORC",
        "/t/c.avro": "APACHE_AVRO",
        "/t/d": "PARQUET",
    }


def _log_write(base: str, version: int, actions: list[dict]) -> None:
    d = os.path.join(base, "_delta_log")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{version:020d}.json"), "w", encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _stats(ids):
    return json.dumps(
        {
            "numRecords": len(ids),
            "minValues": {"id": min(ids)},
            "maxValues": {"id": max(ids)},
            "nullCount": {"id": 0, "label": 0},
        }
    )


def _write_real_orc(spark, path: str, rows: list[tuple]):
    """One REAL orc file with the (id, label) schema at ``path``."""
    import glob as _glob
    import shutil as _shutil

    d = path + ".dir"
    spark.createDataFrame(rows, "id LONG, label STRING").coalesce(1).write.mode(
        "overwrite"
    ).orc(d)
    part = _glob.glob(os.path.join(d, "part-*.orc"))[0]
    _shutil.move(part, path)
    _shutil.rmtree(d)


def _write_real_avro(path: str, rows: list[tuple]):
    """One REAL avro OCF with the (id, label) schema at ``path``."""
    from incubator_xtable_spark.model.avro_codec import write_ocf

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "label", "type": ["null", "string"]},
        ],
    }
    write_ocf(path, schema, [{"id": i, "label": s} for i, s in rows], codec="deflate")


@pytest.fixture()
def mixed_format_delta(tmp_path, spark):
    """A Delta table (provider=parquet) whose log registers one real parquet
    file, one REAL orc file, AND one REAL avro OCF (as foreign writers
    could)."""
    base = str(tmp_path / "mixed")
    os.makedirs(base, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([0, 1, 2], pa.int64()), "label": ["a", "b", "c"]}),
        os.path.join(base, "part-0001.parquet"),
    )
    _write_real_orc(
        spark, os.path.join(base, "part-0002.orc"), [(3, "d"), (4, "e"), (5, "f")]
    )
    _write_real_avro(os.path.join(base, "part-0003.avro"), [(6, "g"), (7, "h"), (8, "i")])
    meta = {
        "id": "fmt-test",
        "name": "fmt",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": SCHEMA_STRING,
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 1,
    }
    add = lambda p, ids: {
        "add": {
            "path": p,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(base, p)),
            "modificationTime": 1,
            "dataChange": True,
            "stats": _stats(ids),
        }
    }
    _log_write(
        base,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
            add("part-0001.parquet", [0, 1, 2]),
            add("part-0002.orc", [3, 4, 5]),
            add("part-0003.avro", [6, 7, 8]),
        ],
    )
    return base


def test_delta_inventory_tags_by_extension(spark, mixed_format_delta):
    src = DeltaConversionSource(spark, mixed_format_delta)
    snap = src.get_current_snapshot()
    fmts = {
        os.path.basename(r["physical_path"]): r["file_format"]
        for r in model_rows(snap.files)
    }
    assert fmts == {
        "part-0001.parquet": "PARQUET",
        "part-0002.orc": "APACHE_ORC",
        "part-0003.avro": "APACHE_AVRO",
    }


def test_orc_tag_survives_delta_to_iceberg(spark, mixed_format_delta, tmp_path):
    """VERDICT r6 done-criterion: an ORC-extension file is tagged APACHE_ORC
    through a Delta→Iceberg conversion, and row reads raise naming the path."""
    from incubator_xtable_spark.sources.iceberg_source import (
        IcebergConversionSource,
        read_iceberg_as_df,
    )

    source = DeltaConversionSource(spark, mixed_format_delta)
    target = IcebergConversionTarget(spark, mixed_format_delta)
    res = ConversionController().sync(source, {TableFormat.ICEBERG: target})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res[
        TableFormat.ICEBERG
    ].error

    # the Iceberg manifest carries ORC for the orc file (spec spelling)
    isrc = IcebergConversionSource(spark, mixed_format_delta)
    meta = isrc._meta()
    entries, _ = live_entries(meta, isrc._head_snapshot_id(meta))
    by_name = {
        os.path.basename(e["data_file"]["file_path"]): e["data_file"]["file_format"]
        for e in entries
    }
    assert by_name == {
        "part-0001.parquet": "PARQUET",
        "part-0002.orc": "ORC",
        "part-0003.avro": "AVRO",
    }

    # and the converted inventory reads back with the engine tag
    fmts = {
        os.path.basename(r["physical_path"]): r["file_format"]
        for r in model_rows(isrc.get_current_snapshot().files)
    }
    assert fmts["part-0002.orc"] == "APACHE_ORC"
    assert fmts["part-0003.avro"] == "APACHE_AVRO"

    # r8: BOTH row-level reads serve the ORC and AVRO branches natively,
    # and agree
    want = [(i, s) for i, s in zip(range(9), "abcdefghi")]
    got = sorted((r["id"], r["label"]) for r in read_delta_as_df(spark, mixed_format_delta).collect())
    assert got == want
    got_ice = sorted(
        (r["id"], r["label"]) for r in read_iceberg_as_df(spark, mixed_format_delta).collect()
    )
    assert got_ice == want


def test_provider_orc_defaults_extensionless_files(spark, tmp_path):
    """provider=orc: extension-less files default to APACHE_ORC (the
    reference's provider rule) and row-read natively (r8)."""
    base = str(tmp_path / "orc_table")
    os.makedirs(base, exist_ok=True)
    _write_real_orc(spark, os.path.join(base, "part-0001"), [(0, "x"), (1, "y")])
    meta = {
        "id": "orc-test",
        "name": "orc",
        "format": {"provider": "orc", "options": {}},
        "schemaString": SCHEMA_STRING,
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 1,
    }
    _log_write(
        base,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
            {
                "add": {
                    "path": "part-0001",
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(base, "part-0001")),
                    "modificationTime": 1,
                    "dataChange": True,
                    "stats": _stats([0]),
                }
            },
        ],
    )
    src = DeltaConversionSource(spark, base)
    rows = model_rows(src.get_current_snapshot().files)
    assert [r["file_format"] for r in rows] == ["APACHE_ORC"]
    got = sorted((r["id"], r["label"]) for r in read_delta_as_df(spark, base).collect())
    assert got == [(0, "x"), (1, "y")]
    # row parity against the format-native reader (VERDICT r7 #5 done-gate)
    native = sorted(
        (r["id"], r["label"])
        for r in spark.read.orc(os.path.join(base, "part-0001")).collect()
    )
    assert got == native


def test_unknown_provider_refuses(spark, tmp_path):
    base = str(tmp_path / "weird")
    os.makedirs(base, exist_ok=True)
    meta = {
        "id": "weird",
        "name": "weird",
        "format": {"provider": "hfile", "options": {}},
        "schemaString": SCHEMA_STRING,
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 1,
    }
    _log_write(
        base,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
            {
                "add": {
                    "path": "p1",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 1,
                    "dataChange": True,
                    "stats": _stats([0]),
                }
            },
        ],
    )
    src = DeltaConversionSource(spark, base)
    with pytest.raises(ValueError, match="hfile"):
        model_rows(src.get_current_snapshot().files)


def test_parquet_only_targets_refuse_orc(spark, mixed_format_delta, tmp_path):
    """Delta / Hudi / Paimon targets cannot represent a non-parquet data
    file; syncing the mixed table into each must FAIL with the format named
    (per-target isolation turns the raise into a failed SyncResult)."""
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

    for fmt, target in [
        (TableFormat.DELTA, DeltaConversionTarget(spark, str(tmp_path / "d"))),
        (TableFormat.HUDI, HudiConversionTarget(spark, str(tmp_path / "h"))),
        (TableFormat.PAIMON, PaimonConversionTarget(spark, str(tmp_path / "p"))),
    ]:
        source = DeltaConversionSource(spark, mixed_format_delta)
        res = ConversionController().sync(source, {fmt: target})[fmt]
        assert res.status != SyncStatusCode.SUCCESS
        assert any(
            t in str(res.error) for t in ("APACHE_ORC", "APACHE_AVRO")
        ), (fmt, res.error)


def test_split_readable_unit():
    from incubator_xtable_spark.model.file_formats import split_readable

    assert split_readable(
        [("/a.parquet", None), ("/b.orc", None), ("/c.avro", None)], reader="t"
    ) == (["/a.parquet"], ["/b.orc"], ["/c.avro"])
    with pytest.raises(NotImplementedError, match=r"a\.hfile.*HFILE"):
        split_readable([("/x/a.hfile", "HFILE")], reader="t")


def test_cdf_reads_orc_adds(spark, mixed_format_delta):
    """r8: the CDF derivation row-reads the commit's ORC and AVRO adds
    natively — all nine rows emit as inserts across the three formats."""
    from incubator_xtable_spark.sources.delta_source import read_delta_cdf

    df = read_delta_cdf(spark, mixed_format_delta, 0)
    got = sorted((r["id"], r["_change_type"]) for r in df.collect())
    assert got == [(i, "insert") for i in range(9)]


def test_read_hudi_orc_base_files(spark, tmp_path):
    """r8: a Hudi COW table with ORC base files
    (hoodie.table.base.file.format=ORC) row-reads natively, equal to the
    format-native reader."""
    import glob as _glob
    import shutil as _shutil

    from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    base = str(tmp_path / "horc")
    spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "id LONG, label STRING"
    ).coalesce(1).write.parquet(base)
    res = ConversionController().sync(
        ParquetConversionSource(spark, base, name="horc"),
        {TableFormat.HUDI: HudiConversionTarget(spark, base, table_name="horc")},
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS

    # swap the data file for an ORC twin and retarget the metadata, the
    # shape a real ORC-base Hudi writer would have produced
    pq_file = _glob.glob(os.path.join(base, "part-*.parquet"))[0]
    orc_file = pq_file[: -len(".parquet")] + ".orc"
    _write_real_orc(spark, orc_file, [(0, "a"), (1, "b"), (2, "c")])
    os.unlink(pq_file)
    hoodie = os.path.join(base, ".hoodie")
    for fn in os.listdir(hoodie):
        p = os.path.join(hoodie, fn)
        if fn.endswith(".commit"):
            raw = open(p, encoding="utf-8").read().replace(".parquet", ".orc")
            open(p, "w", encoding="utf-8").write(raw)
        if fn == "hoodie.properties":
            raw = open(p, encoding="utf-8").read().replace(
                "hoodie.table.base.file.format=PARQUET",
                "hoodie.table.base.file.format=ORC",
            )
            open(p, "w", encoding="utf-8").write(raw)

    got = sorted((r["id"], r["label"]) for r in read_hudi_as_df(spark, base).collect())
    native = sorted((r["id"], r["label"]) for r in spark.read.orc(orc_file).collect())
    assert got == native == [(0, "a"), (1, "b"), (2, "c")]


def test_multi_orc_files_read_completely(spark, tmp_path):
    """Regression (r8): pyspark's DataFrameReader.orc is NOT varargs —
    `.orc(*paths)` silently bound the 2nd+ paths to mergeSchema/
    pathGlobFilter, dropping every ORC file but the first. A table with
    SEVERAL orc files must read all of them, in Delta and Iceberg reads."""
    from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df

    base = str(tmp_path / "multi_orc")
    os.makedirs(base, exist_ok=True)
    _write_real_orc(spark, os.path.join(base, "part-0001.orc"), [(0, "a"), (1, "b")])
    _write_real_orc(spark, os.path.join(base, "part-0002.orc"), [(2, "c"), (3, "d")])
    _write_real_orc(spark, os.path.join(base, "part-0003.orc"), [(4, "e"), (5, "f")])
    meta = {
        "id": "multi-orc",
        "name": "morc",
        "format": {"provider": "orc", "options": {}},
        "schemaString": SCHEMA_STRING,
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 1,
    }
    add = lambda p, ids: {
        "add": {
            "path": p,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(base, p)),
            "modificationTime": 1,
            "dataChange": True,
            "stats": _stats(ids),
        }
    }
    _log_write(
        base,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": meta},
            add("part-0001.orc", [0, 1]),
            add("part-0002.orc", [2, 3]),
            add("part-0003.orc", [4, 5]),
        ],
    )
    want = [(i, s) for i, s in zip(range(6), "abcdef")]
    got = sorted((r["id"], r["label"]) for r in read_delta_as_df(spark, base).collect())
    assert got == want

    res = ConversionController().sync(
        DeltaConversionSource(spark, base),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, base)},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    got_ice = sorted((r["id"], r["label"]) for r in read_iceberg_as_df(spark, base).collect())
    assert got_ice == want


# -- ORC under column mapping (r9, VERDICT r8 #4) ---------------------------

CM_SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {
                "name": "renamed_id",
                "type": "long",
                "nullable": False,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-abc",
                },
            },
            {
                "name": "label",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-def",
                },
            },
        ],
    }
)


def _write_physical_orc(spark, path: str, rows: list[tuple]):
    """One REAL orc file whose column NAMES are the physical names."""
    import glob as _glob
    import shutil as _shutil

    d = path + ".dir"
    spark.createDataFrame(rows, "`col-abc` LONG, `col-def` STRING").coalesce(
        1
    ).write.mode("overwrite").orc(d)
    part = _glob.glob(os.path.join(d, "part-*.orc"))[0]
    _shutil.move(part, path)
    _shutil.rmtree(d)


def _cm_orc_table(tmp_path, spark, mode: str = "name", with_parquet: bool = True):
    base = str(tmp_path / f"cm_orc_{mode}")
    os.makedirs(base, exist_ok=True)
    _write_physical_orc(spark, os.path.join(base, "part-0001.orc"), [(1, "a"), (2, "b")])
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm-orc",
                "name": "cm",
                "format": {"provider": "orc", "options": {}},
                "schemaString": CM_SCHEMA_STRING,
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": mode,
                    "delta.columnMapping.maxColumnId": "2",
                },
                "createdTime": 1,
            }
        },
        {
            "add": {
                "path": "part-0001.orc",
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(base, "part-0001.orc")),
                "modificationTime": 1,
                "dataChange": True,
            }
        },
    ]
    if with_parquet:
        # a physical-named parquet file alongside: both branches must
        # resolve to the same logical columns
        pq.write_table(
            pa.table(
                {"col-abc": pa.array([3, 4], pa.int64()), "col-def": ["c", "d"]}
            ),
            os.path.join(base, "part-0002.parquet"),
        )
        actions.append(
            {
                "add": {
                    "path": "part-0002.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(base, "part-0002.parquet")),
                    "modificationTime": 1,
                    "dataChange": True,
                }
            }
        )
    _log_write(base, 0, actions)
    return base


def test_orc_mode_name_rows_resolve_physical_columns(spark, tmp_path):
    """provider=orc, mode=name, RENAMED column: row reads resolve the
    physical ORC column names back to the logical schema — mixed with a
    parquet file resolving through the same mapping (r9; r8 refused)."""
    base = _cm_orc_table(tmp_path, spark, mode="name")
    df = read_delta_as_df(spark, base)
    assert df.columns == ["renamed_id", "label"]
    got = {(r["renamed_id"], r["label"]) for r in df.collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}


def test_orc_mode_name_cdf_derives(spark, tmp_path):
    """CDF derivation over the same table: commit 0's adds emit inserts
    with logical column names."""
    from incubator_xtable_spark.sources.delta_source import read_delta_cdf

    cdf = read_delta_cdf(spark, _cm_orc_table(tmp_path, spark, mode="name"), 0)
    rows = cdf.collect()
    assert {r["_change_type"] for r in rows} == {"insert"}
    assert {(r["renamed_id"], r["label"]) for r in rows} == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
        (4, "d"),
    }


def test_orc_mode_id_still_refuses(spark, tmp_path):
    """mode=id keys resolution on parquet FIELD IDS, which ORC files cannot
    carry — the refusal matrix pins this cell (README)."""
    from incubator_xtable_spark.sources.delta_source import read_delta_cdf

    base = _cm_orc_table(tmp_path, spark, mode="id", with_parquet=False)
    with pytest.raises(NotImplementedError, match="mode=id with ORC"):
        read_delta_as_df(spark, base)
    with pytest.raises(NotImplementedError, match="mode=id with ORC"):
        read_delta_cdf(spark, base, 0).collect()
