"""Row-delete passthrough: Delta deletion vectors converted to Iceberg
v2 position-delete files — NO data-file rewrite (the purged-shadow
fallback stays for targets that cannot express row-level deletes).

Scenario parity: ref delta/ITDeltaDeleteVectorConvert.java (DV tables
convert row-accurately) + iceberg spec v2 delete application rule
(delete_seq >= data_seq)."""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_xtable_spark.model.avro_codec import read_ocf, write_ocf
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.model.iceberg_manifests import live_entries
from incubator_xtable_spark.sources.delta_dv import write_dv_file
from incubator_xtable_spark.sources.delta_source import (
    DeltaConversionSource,
    read_delta_as_df,
)
from incubator_xtable_spark.sources.iceberg_source import (
    IcebergConversionSource,
    read_iceberg_as_df,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget
from .model_tables import model_rows

SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "label", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _write_data_file(path: str, ids: list[int]) -> dict:
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "label": [f"row-{i}" for i in ids]}),
        path,
    )
    return {
        "numRecords": len(ids),
        "minValues": {"id": min(ids), "label": f"row-{min(ids)}"},
        "maxValues": {"id": max(ids), "label": f"row-{max(ids)}"},
        "nullCount": {"id": 0, "label": 0},
    }


def _log_write(base: str, version: int, actions: list[dict]) -> None:
    d = os.path.join(base, "_delta_log")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{version:020d}.json"), "w", encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _add(base, p, s, dv=None):
    return {
        "add": {
            "path": p,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(base, p)),
            "modificationTime": 1,
            "dataChange": True,
            "stats": json.dumps(s),
            **({"deletionVector": dv} if dv else {}),
        }
    }


def _base_table(tmp_path) -> tuple[str, dict, dict]:
    base = str(tmp_path / "dv_rowdel")
    os.makedirs(base, exist_ok=True)
    s1 = _write_data_file(os.path.join(base, "part-0001.parquet"), list(range(10)))
    s2 = _write_data_file(os.path.join(base, "part-0002.parquet"), list(range(10, 20)))
    meta = {
        "id": "dv-rowdel",
        "name": "dvtab",
        "schemaString": SCHEMA_STRING,
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 1,
    }
    _log_write(
        base,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
            {"metaData": meta},
            _add(base, "part-0001.parquet", s1),
            _add(base, "part-0002.parquet", s2),
        ],
    )
    return base, s1, s2


def _dv_commit(base: str, version: int, s1: dict, positions: list[int]) -> None:
    desc = write_dv_file(base, positions)
    _log_write(
        base,
        version,
        [
            {"remove": {"path": "part-0001.parquet", "deletionTimestamp": 2, "dataChange": True}},
            _add(base, "part-0001.parquet", s1, dv=desc),
        ],
    )


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_expose_snapshot_keeps_original_paths(spark, tmp_path):
    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])
    src = DeltaConversionSource(spark, base, expose_row_deletes=True)
    snap = src.get_current_snapshot()
    rows = {os.path.basename(r["physical_path"]): r for r in model_rows(snap.files)}
    # original paths, physical record counts — no shadow rewrite
    assert set(rows) == {"part-0001.parquet", "part-0002.parquet"}
    assert rows["part-0001.parquet"]["record_count"] == 10
    assert not glob.glob(os.path.join(base, "*.purged-*"))
    # the delete set rides on row_deletes as an Iceberg-shaped parquet
    rd = model_rows(snap.row_deletes)
    assert len(rd) == 1
    assert os.path.basename(rd[0]["data_file_path"]) == "part-0001.parquet"
    assert rd[0]["delete_count"] == 3
    pos = pq.read_table(rd[0]["positions_path"]).to_pydict()
    assert pos["pos"] == [2, 3, 7]
    assert all(p == rd[0]["data_file_path"] for p in pos["file_path"])


def test_full_sync_writes_position_deletes(spark, tmp_path):
    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])
    src = DeltaConversionSource(spark, base, expose_row_deletes=True)
    res = ConversionController().sync(
        src, {TableFormat.ICEBERG: IcebergConversionTarget(spark, base, table_name="dvtab")}
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res
    expected = [i for i in range(20) if i not in (2, 3, 7)]
    assert _ids(read_iceberg_as_df(spark, base)) == expected
    assert _ids(read_delta_as_df(spark, base)) == expected
    # manifest-level: data entries keep ORIGINAL paths; one content=1 entry
    isrc = IcebergConversionSource(spark, base)
    data, deletes = live_entries(isrc._meta(), isrc._meta()["current-snapshot-id"])
    data_paths = {os.path.basename(e["data_file"]["file_path"]) for e in data}
    assert data_paths == {"part-0001.parquet", "part-0002.parquet"}
    assert len(deletes) == 1
    de = deletes[0]["data_file"]
    assert ".deletes-" in de["file_path"]
    assert de["record_count"] == 3
    assert not glob.glob(os.path.join(base, "*.purged-*"))


def test_incremental_dv_supersedes_delete_file(spark, tmp_path):
    base, s1, _ = _base_table(tmp_path)
    src = DeltaConversionSource(spark, base, expose_row_deletes=True)
    target = IcebergConversionTarget(spark, base, table_name="dvtab")

    # full sync at v0 (no deletes yet)
    res = ConversionController().sync(src, {TableFormat.ICEBERG: target})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    assert _ids(read_iceberg_as_df(spark, base)) == list(range(20))

    # v1: DELETE {2,3,7} via DV -> incremental sync carries a delete file
    _dv_commit(base, 1, s1, [2, 3, 7])
    res = ConversionController().sync(src, {TableFormat.ICEBERG: target})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    assert res[TableFormat.ICEBERG].mode.value == "INCREMENTAL"
    expected1 = [i for i in range(20) if i not in (2, 3, 7)]
    assert _ids(read_iceberg_as_df(spark, base)) == expected1

    # v2: the DV widens to {2,3,7,5}; the new delete file SUPERSEDES the
    # old one for the same data file (protocol stem rule)
    _dv_commit(base, 2, s1, [2, 3, 5, 7])
    res = ConversionController().sync(src, {TableFormat.ICEBERG: target})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    expected2 = [i for i in range(20) if i not in (2, 3, 5, 7)]
    assert _ids(read_iceberg_as_df(spark, base)) == expected2
    isrc = IcebergConversionSource(spark, base)
    data, deletes = live_entries(isrc._meta(), isrc._meta()["current-snapshot-id"])
    assert len(deletes) == 1  # superseded, not accumulated
    assert deletes[0]["data_file"]["record_count"] == 4
    # sequence rule: the delete's sequence is >= every data file's
    data_seqs = [int(e.get("sequence_number") or 0) for e in data]
    assert int(deletes[0].get("sequence_number") or 0) >= max(data_seqs)
    # the data files were never rewritten
    assert {os.path.basename(e["data_file"]["file_path"]) for e in data} == {
        "part-0001.parquet",
        "part-0002.parquet",
    }
    assert not glob.glob(os.path.join(base, "*.purged-*"))


def test_default_mode_still_purges_shadows(spark, tmp_path):
    """Without expose_row_deletes the legacy posture is unchanged: DV'd
    files convert to purged shadows (targets without delete support)."""
    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])
    src = DeltaConversionSource(spark, base)
    snap = src.get_current_snapshot()
    assert snap.row_deletes is None
    names = {os.path.basename(r["physical_path"]) for r in model_rows(snap.files)}
    assert any(".purged-" in n for n in names)


def test_run_sync_auto_enables_exposure(spark, tmp_path):
    """run_once flips expose_row_deletes on iff every target supports
    row deletes."""
    from incubator_xtable_spark.run_sync import build_source, build_target

    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])
    source = build_source(spark, "DELTA", {"tableBasePath": base})
    t_ice = build_target(spark, "ICEBERG", {"tableBasePath": base, "tableName": "t"})
    t_hudi = build_target(spark, "HUDI", {"tableBasePath": base, "tableName": "t"})
    assert getattr(t_ice, "supports_row_deletes", False) is True
    assert getattr(t_hudi, "supports_row_deletes", False) is False
    assert source.expose_row_deletes is False  # default stays off


# ---------------------------------------------------------------------------
# Iceberg position deletes -> Delta deletion vectors (the mirror path)
# ---------------------------------------------------------------------------


def _iceberg_deleted_table(spark, tmp_path):
    """Iceberg table (via our target) + a spec-shaped snapshot carrying a
    position-delete manifest for 3 rows of one data file — same build as
    tests/test_iceberg_deletes.deleted_table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.iceberg_target import (
        MANIFEST_LIST_SCHEMA,
        IcebergConversionTarget,
        manifest_entry_schema,
        metadata_dir,
        read_table_metadata,
    )

    d = str(tmp_path / "icedel")
    df = spark.range(0, 20).select(
        F.col("id").cast("long").alias("id"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    df.coalesce(2).write.mode("overwrite").parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="icedel"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, d, table_name="icedel")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS

    meta = read_table_metadata(d)
    src = IcebergConversionSource(spark, d)
    entries = live_entries(meta, meta["current-snapshot-id"])[0]
    victim = sorted(e["data_file"]["file_path"] for e in entries)[0]
    pos_path = os.path.join(d, "delete-0001.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([victim] * 3, pa.string()),
                "pos": pa.array([0, 1, 2], pa.int64()),
            }
        ),
        pos_path,
    )
    del_manifest = os.path.join(metadata_dir(d), "del-m0.avro")
    dlen = write_ocf(
        del_manifest,
        manifest_entry_schema([]),
        [
            {
                "status": 1,
                "snapshot_id": 999,
                "sequence_number": 2,
                "file_sequence_number": 2,
                "data_file": {
                    "content": 1,
                    "file_path": pos_path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 3,
                    "file_size_in_bytes": os.path.getsize(pos_path),
                },
            }
        ],
        extra_meta={"format-version": "2", "content": "deletes"},
    )
    snap1 = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    old_manifests = read_ocf(snap1["manifest-list"])[0]
    new_list = os.path.join(metadata_dir(d), "snap-999-del.avro")
    write_ocf(
        new_list,
        MANIFEST_LIST_SCHEMA,
        old_manifests
        + [
            {
                "manifest_path": del_manifest,
                "manifest_length": dlen,
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": 2,
                "min_sequence_number": 2,
                "added_snapshot_id": 999,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 3,
                "existing_rows_count": 0,
                "deleted_rows_count": 3,
            }
        ],
        extra_meta={"format-version": "2"},
    )
    meta2 = json.loads(json.dumps(meta))
    meta2["last-sequence-number"] = 2
    meta2["current-snapshot-id"] = 999
    meta2["snapshots"].append(
        {
            "snapshot-id": 999,
            "parent-snapshot-id": snap1["snapshot-id"],
            "sequence-number": 2,
            "timestamp-ms": snap1["timestamp-ms"] + 1,
            "manifest-list": new_list,
            "summary": {"operation": "delete"},
        }
    )
    v = 1 + max(
        int(p.split("v")[-1].split(".")[0])
        for p in os.listdir(metadata_dir(d))
        if p.endswith(".metadata.json")
    )
    with open(os.path.join(metadata_dir(d), f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta2, fh)
    with open(os.path.join(metadata_dir(d), "version-hint.text"), "w") as fh:
        fh.write(str(v))
    return d, victim


def test_iceberg_deletes_to_delta_dv(spark, tmp_path):
    """Iceberg v2 position deletes convert to REAL Delta deletion
    vectors — no data rewrite in either format."""
    d, victim = _iceberg_deleted_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d, name="icedel", expose_row_deletes=True)
    snap = src.get_current_snapshot()
    rd = model_rows(snap.row_deletes)
    assert len(rd) == 1 and rd[0]["data_file_path"] == victim
    assert rd[0]["delete_count"] == 3
    # data inventory references ORIGINAL files, not purged shadows
    paths = {r["physical_path"] for r in model_rows(snap.files)}
    assert victim in paths and not any(".purged-" in p for p in paths)

    res = ConversionController().sync(
        src, {TableFormat.DELTA: DeltaConversionTarget(spark, d)}
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res

    # the add action for the victim carries a 'u'-storage deletion vector
    import glob as _glob

    adds = {}
    proto = None
    for f in sorted(_glob.glob(os.path.join(d, "_delta_log", "*.json"))):
        for line in open(f):
            a = json.loads(line)
            if "add" in a:
                adds[a["add"]["path"]] = a["add"]
            if "protocol" in a:
                proto = a["protocol"]
    victim_rel = os.path.basename(victim)
    dv = next(v for p, v in adds.items() if p.endswith(victim_rel))["deletionVector"]
    assert dv["storageType"] == "u" and dv["cardinality"] == 3
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]

    ice_rows = sorted(tuple(r) for r in read_iceberg_as_df(spark, d).collect())
    delta_rows = sorted(tuple(r) for r in read_delta_as_df(spark, d).collect())
    assert delta_rows == ice_rows and len(delta_rows) == 17
    assert not glob.glob(os.path.join(d, "*.purged-*"))

    # idempotent re-sync: unchanged delete set -> DV re-add is a no-op
    n_log = len(_glob.glob(os.path.join(d, "_delta_log", "*.json")))
    res = ConversionController().sync(
        IcebergConversionSource(spark, d, name="icedel", expose_row_deletes=True),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    logs = sorted(_glob.glob(os.path.join(d, "_delta_log", "*.json")))
    # nothing new to sync: either no commit at all (empty backlog) or a
    # bookkeeping commit with no file churn
    assert len(logs) <= n_log + 1
    if len(logs) == n_log + 1:
        last = [json.loads(l) for l in open(logs[-1])]
        assert not any("add" in a or "remove" in a for a in last)
    assert sorted(tuple(r) for r in read_delta_as_df(spark, d).collect()) == ice_rows


def test_iceberg_delete_widening_updates_delta_dv(spark, tmp_path):
    """A widened Iceberg delete set re-commits the affected file in Delta
    as remove + re-add with the NEW deletion vector (dv-update shape)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.targets.iceberg_target import (
        MANIFEST_LIST_SCHEMA,
        manifest_entry_schema,
        metadata_dir,
        read_table_metadata,
    )

    d, victim = _iceberg_deleted_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d, name="icedel", expose_row_deletes=True)
    target = DeltaConversionTarget(spark, d)
    res = ConversionController().sync(src, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS

    # snapshot 1000: a second delete file adds position 3 of the victim
    meta = read_table_metadata(d)
    pos_path2 = os.path.join(d, "delete-0002.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([victim], pa.string()),
                "pos": pa.array([3], pa.int64()),
            }
        ),
        pos_path2,
    )
    del_manifest2 = os.path.join(metadata_dir(d), "del-m1.avro")
    dlen2 = write_ocf(
        del_manifest2,
        manifest_entry_schema([]),
        [
            {
                "status": 1,
                "snapshot_id": 1000,
                "sequence_number": 3,
                "file_sequence_number": 3,
                "data_file": {
                    "content": 1,
                    "file_path": pos_path2,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(pos_path2),
                },
            }
        ],
        extra_meta={"format-version": "2", "content": "deletes"},
    )
    snap2 = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    old_manifests = read_ocf(snap2["manifest-list"])[0]
    new_list = os.path.join(metadata_dir(d), "snap-1000-del.avro")
    write_ocf(
        new_list,
        MANIFEST_LIST_SCHEMA,
        old_manifests
        + [
            {
                "manifest_path": del_manifest2,
                "manifest_length": dlen2,
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": 3,
                "min_sequence_number": 3,
                "added_snapshot_id": 1000,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 1,
                "existing_rows_count": 0,
                "deleted_rows_count": 1,
            }
        ],
        extra_meta={"format-version": "2"},
    )
    meta2 = json.loads(json.dumps(meta))
    meta2["last-sequence-number"] = 3
    meta2["current-snapshot-id"] = 1000
    meta2["snapshots"].append(
        {
            "snapshot-id": 1000,
            "parent-snapshot-id": snap2["snapshot-id"],
            "sequence-number": 3,
            "timestamp-ms": snap2["timestamp-ms"] + 1,
            "manifest-list": new_list,
            "summary": {"operation": "delete"},
        }
    )
    v = 1 + max(
        int(p.split("v")[-1].split(".")[0])
        for p in os.listdir(metadata_dir(d))
        if p.endswith(".metadata.json")
    )
    with open(os.path.join(metadata_dir(d), f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta2, fh)
    with open(os.path.join(metadata_dir(d), "version-hint.text"), "w") as fh:
        fh.write(str(v))

    res = ConversionController().sync(
        IcebergConversionSource(spark, d, name="icedel", expose_row_deletes=True),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res
    import glob as _glob

    logs = sorted(_glob.glob(os.path.join(d, "_delta_log", "*.json")))
    last = [json.loads(l) for l in open(logs[-1])]
    removes = [a["remove"]["path"] for a in last if "remove" in a]
    adds = [a["add"] for a in last if "add" in a]
    assert len(removes) == 1 and len(adds) == 1
    assert removes[0] == adds[0]["path"]
    assert adds[0]["deletionVector"]["cardinality"] == 4
    ice_rows = sorted(tuple(r) for r in read_iceberg_as_df(spark, d).collect())
    delta_rows = sorted(tuple(r) for r in read_delta_as_df(spark, d).collect())
    assert delta_rows == ice_rows and len(delta_rows) == 16


# ---------------------------------------------------------------------------
# Complete-state semantics: RESTORE, compaction, mode flips
# ---------------------------------------------------------------------------


def test_restore_clears_iceberg_delete_files(spark, tmp_path):
    """A Delta RESTORE (re-add without DV) clears the converted Iceberg
    table's position-delete entry — restored rows become visible."""
    base, s1, _ = _base_table(tmp_path)
    src = DeltaConversionSource(spark, base, expose_row_deletes=True)
    target = IcebergConversionTarget(spark, base, table_name="dvtab")
    ConversionController().sync(src, {TableFormat.ICEBERG: target})
    _dv_commit(base, 1, s1, [2, 3, 7])
    ConversionController().sync(src, {TableFormat.ICEBERG: target})
    assert read_iceberg_as_df(spark, base).count() == 17

    # v2: RESTORE — re-add part-0001 with NO deletion vector
    _log_write(
        base,
        2,
        [
            {"remove": {"path": "part-0001.parquet", "deletionTimestamp": 3, "dataChange": True}},
            _add(base, "part-0001.parquet", s1),
        ],
    )
    res = ConversionController().sync(src, {TableFormat.ICEBERG: target})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res
    assert _ids(read_iceberg_as_df(spark, base)) == list(range(20))
    isrc = IcebergConversionSource(spark, base)
    _, deletes = live_entries(isrc._meta(), isrc._meta()["current-snapshot-id"])
    assert deletes == []


def test_rewrite_drops_dangling_delete_entries(spark, tmp_path):
    """Removing a DV'd data file (compaction rewrite) also drops its
    delete entry — no dangling content=1 manifests accumulate."""
    base, s1, _ = _base_table(tmp_path)
    src = DeltaConversionSource(spark, base, expose_row_deletes=True)
    target = IcebergConversionTarget(spark, base, table_name="dvtab")
    _dv_commit(base, 1, s1, [2, 3, 7])
    ConversionController().sync(src, {TableFormat.ICEBERG: target})

    # v2: rewrite — drop part-0001 (and its DV), add compacted part-0003
    s3 = _write_data_file(os.path.join(base, "part-0003.parquet"), [i for i in range(10) if i not in (2, 3, 7)])
    _log_write(
        base,
        2,
        [
            {"remove": {"path": "part-0001.parquet", "deletionTimestamp": 3, "dataChange": True}},
            _add(base, "part-0003.parquet", s3),
        ],
    )
    res = ConversionController().sync(src, {TableFormat.ICEBERG: target})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res
    expected = [i for i in range(20) if i not in (2, 3, 7)]
    assert _ids(read_iceberg_as_df(spark, base)) == expected
    isrc = IcebergConversionSource(spark, base)
    data, deletes = live_entries(isrc._meta(), isrc._meta()["current-snapshot-id"])
    assert deletes == []  # nothing dangles
    assert {os.path.basename(e["data_file"]["file_path"]) for e in data} == {
        "part-0002.parquet",
        "part-0003.parquet",
    }


def test_mode_flip_forces_full_restatement(spark, tmp_path):
    """A table first synced with purged shadows re-syncs FULL when the
    source flips to row-delete exposure: shadows swap for original paths
    + delete files (no corrupted incremental continuity)."""
    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])
    target = IcebergConversionTarget(spark, base, table_name="dvtab")
    # r3-style sync: shadows
    res = ConversionController().sync(
        DeltaConversionSource(spark, base), {TableFormat.ICEBERG: target}
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    isrc = IcebergConversionSource(spark, base)
    data, _ = live_entries(isrc._meta(), isrc._meta()["current-snapshot-id"])
    assert any(".purged-" in e["data_file"]["file_path"] for e in data)

    # flip to exposure: must run FULL (not incremental) and swap paths
    res = ConversionController().sync(
        DeltaConversionSource(spark, base, expose_row_deletes=True),
        {TableFormat.ICEBERG: target},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    assert res[TableFormat.ICEBERG].mode.value == "FULL"
    data, deletes = live_entries(isrc._meta(), isrc._meta()["current-snapshot-id"])
    paths = {os.path.basename(e["data_file"]["file_path"]) for e in data}
    assert paths == {"part-0001.parquet", "part-0002.parquet"}
    assert len(deletes) == 1
    expected = [i for i in range(20) if i not in (2, 3, 7)]
    assert _ids(read_iceberg_as_df(spark, base)) == expected


def test_iceberg_restore_clears_delta_dv(spark, tmp_path):
    """The mirror: an Iceberg snapshot that drops its delete manifest
    re-syncs to Delta as a re-add WITHOUT the deletion vector."""
    from incubator_xtable_spark.targets.iceberg_target import (
        MANIFEST_LIST_SCHEMA,
        metadata_dir,
        read_table_metadata,
    )

    d, victim = _iceberg_deleted_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d, name="icedel", expose_row_deletes=True)
    target = DeltaConversionTarget(spark, d)
    ConversionController().sync(src, {TableFormat.DELTA: target})
    assert read_delta_as_df(spark, d).count() == 17

    # snapshot 1001: manifest list WITHOUT the delete manifest (restore)
    meta = read_table_metadata(d)
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    manifests = [m for m in read_ocf(snap["manifest-list"])[0] if m.get("content") != 1]
    new_list = os.path.join(metadata_dir(d), "snap-1001-restore.avro")
    write_ocf(new_list, MANIFEST_LIST_SCHEMA, manifests, extra_meta={"format-version": "2"})
    meta2 = json.loads(json.dumps(meta))
    meta2["last-sequence-number"] = meta["last-sequence-number"] + 1
    meta2["current-snapshot-id"] = 1001
    meta2["snapshots"].append(
        {
            "snapshot-id": 1001,
            "parent-snapshot-id": snap["snapshot-id"],
            "sequence-number": meta2["last-sequence-number"],
            "timestamp-ms": snap["timestamp-ms"] + 1,
            "manifest-list": new_list,
            "summary": {"operation": "overwrite"},
        }
    )
    v = 1 + max(
        int(p.split("v")[-1].split(".")[0])
        for p in os.listdir(metadata_dir(d))
        if p.endswith(".metadata.json")
    )
    with open(os.path.join(metadata_dir(d), f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta2, fh)
    with open(os.path.join(metadata_dir(d), "version-hint.text"), "w") as fh:
        fh.write(str(v))

    res = ConversionController().sync(
        IcebergConversionSource(spark, d, name="icedel", expose_row_deletes=True),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res
    assert read_delta_as_df(spark, d).count() == 20


def test_removed_dv_file_not_resurrected(spark, tmp_path):
    """A commit that REMOVES a DV'd data file (compaction / rewrite /
    full-file delete) must NOT have the DV re-add loop resurrect it:
    the removed file previously came back WITHOUT its deletion vector,
    restoring every deleted row. Regression for ADVICE r4 (high)."""
    from pyspark.sql import types as T

    from incubator_xtable_spark.model.core import (
        FILE_INVENTORY_ARROW,
        ROW_DELETES_ARROW,
        InternalTable,
        TableChange,
        arrow_table,
    )
    from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata

    base = str(tmp_path / "resurrect")
    os.makedirs(base)
    _write_data_file(os.path.join(base, "A.parquet"), list(range(10)))
    _write_data_file(os.path.join(base, "B.parquet"), list(range(10, 20)))
    # A compacted without its deleted rows 0..6
    _write_data_file(os.path.join(base, "C.parquet"), [7, 8, 9])

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("label", T.StringType()),
        ]
    )
    table = InternalTable(
        name="t", table_format=TableFormat.PARQUET, base_path=base, read_schema=schema
    )

    def inv(names):
        rows = [
            (
                os.path.join(base, n),
                "parquet",
                os.path.getsize(os.path.join(base, n)),
                None,
                1,
                None,
                None,
            )
            for n in names
        ]
        return arrow_table(rows, FILE_INVENTORY_ARROW)

    def deletes(spec):
        rows = []
        for name, positions in spec.items():
            abs_p = os.path.join(base, name)
            pos_path = os.path.join(base, f"pos-{name}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "file_path": pa.array([abs_p] * len(positions), pa.string()),
                        "pos": pa.array(positions, pa.int64()),
                    }
                ),
                pos_path,
            )
            rows.append((abs_p, pos_path, len(positions), None))
        return arrow_table(rows, ROW_DELETES_ARROW)

    target = DeltaConversionTarget(spark, base)

    def commit(instant, snapshot_files=None, change=None, row_deletes=None):
        target.begin_sync(table)
        target.sync_metadata(TableSyncMetadata(instant, row_deletes_mode=True))
        target.sync_schema(schema)
        target.sync_partition_spec([])
        if snapshot_files is not None:
            target.sync_files_for_snapshot(snapshot_files)
        else:
            target.sync_files_for_diff(change)
        if row_deletes is not None:
            target.sync_row_deletes(row_deletes)
        target.complete_sync()

    # v0: A,B live
    commit("i0", snapshot_files=inv(["A.parquet", "B.parquet"]))
    # v1: deletes land on A (rows 0..6) — A re-adds with a DV
    commit(
        "i1",
        change=TableChange(table=table, commit_id="i1", files_added=inv([]), files_removed=inv([])),
        row_deletes=deletes({"A.parquet": list(range(7))}),
    )
    # v2: compaction removes A, adds C; complete delete state now only
    # covers B (row 10) — the re-add loop must skip removed A entirely
    commit(
        "i2",
        change=TableChange(
            table=table,
            commit_id="i2",
            files_added=inv(["C.parquet"]),
            files_removed=inv(["A.parquet"]),
        ),
        row_deletes=deletes({"B.parquet": [0]}),
    )

    from incubator_xtable_spark.sources.delta_source import live_adds

    live = live_adds(base)
    assert "A.parquet" not in live, "removed DV'd file resurrected by re-add loop"
    assert set(live) == {"B.parquet", "C.parquet"}
    dv_b = live["B.parquet"].get("deletionVector")
    assert dv_b is not None and dv_b["cardinality"] == 1
    assert _ids(read_delta_as_df(spark, base)) == [7, 8, 9] + list(range(11, 20))


def test_transform_partitioned_iceberg_row_deletes(spark, tmp_path):
    """Position deletes on a DAY-partitioned Iceberg table: manifests
    store spec-native ints, so the row-delete channel must convert them
    back to the engine's partition strings (ADVICE r4 medium — the raw
    int previously failed ROW_DELETES_SCHEMA verification)."""
    from pyspark.sql import types as T

    from incubator_xtable_spark.model.core import (
        FILE_INVENTORY_ARROW,
        InternalPartitionField,
        InternalTable,
        PartitionTransformType,
        arrow_table,
    )
    from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata
    from incubator_xtable_spark.targets.iceberg_target import (
        MANIFEST_LIST_SCHEMA,
        manifest_entry_schema,
        metadata_dir,
        read_table_metadata,
    )

    d = str(tmp_path / "ice_day_del")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, "f1.parquet")
    pq.write_table(
        pa.table({"id": pa.array(range(6), pa.int64())}), fp
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType(), True), T.StructField("ts", T.TimestampType(), True)]
    )
    pfs = [
        InternalPartitionField(
            source_field="ts",
            transform=PartitionTransformType.DAY,
            partition_field_name="ts_day",
        )
    ]
    table = InternalTable(
        name="ice_day_del",
        table_format=TableFormat.PARQUET,
        base_path=d,
        read_schema=schema,
        partition_fields=pfs,
    )
    inv = arrow_table(
        [(fp, "PARQUET", os.path.getsize(fp), 6, None, {"ts_day": "2024-03-01"}, None)],
        FILE_INVENTORY_ARROW,
    )
    target = IcebergConversionTarget(spark, d, table_name="ice_day_del")
    target.begin_sync(table)
    target.sync_metadata(TableSyncMetadata(last_instant_synced="1"))
    target.sync_schema(schema)
    target.sync_partition_spec(pfs)
    target.sync_files_for_snapshot(inv)
    target.complete_sync()

    # append a position-delete snapshot covering rows 1,4 of f1
    meta = read_table_metadata(d)
    pos_path = os.path.join(d, "delete-0001.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([fp, fp], pa.string()),
                "pos": pa.array([1, 4], pa.int64()),
            }
        ),
        pos_path,
    )
    del_manifest = os.path.join(metadata_dir(d), "del-m0.avro")
    dlen = write_ocf(
        del_manifest,
        manifest_entry_schema([]),
        [
            {
                "status": 1,
                "snapshot_id": 999,
                "sequence_number": 2,
                "file_sequence_number": 2,
                "data_file": {
                    "content": 1,
                    "file_path": pos_path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 2,
                    "file_size_in_bytes": os.path.getsize(pos_path),
                },
            }
        ],
        extra_meta={"format-version": "2", "content": "deletes"},
    )
    snap1 = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    new_list = os.path.join(metadata_dir(d), "snap-999-del.avro")
    write_ocf(
        new_list,
        MANIFEST_LIST_SCHEMA,
        read_ocf(snap1["manifest-list"])[0]
        + [
            {
                "manifest_path": del_manifest,
                "manifest_length": dlen,
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": 2,
                "min_sequence_number": 2,
                "added_snapshot_id": 999,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 2,
                "existing_rows_count": 0,
                "deleted_rows_count": 2,
            }
        ],
        extra_meta={"format-version": "2"},
    )
    meta2 = json.loads(json.dumps(meta))
    meta2["last-sequence-number"] = 2
    meta2["current-snapshot-id"] = 999
    meta2["snapshots"].append(
        {
            "snapshot-id": 999,
            "parent-snapshot-id": snap1["snapshot-id"],
            "sequence-number": 2,
            "timestamp-ms": snap1["timestamp-ms"] + 1,
            "manifest-list": new_list,
            "summary": {"operation": "delete"},
        }
    )
    v = 1 + max(
        int(p.split("v")[-1].split(".")[0])
        for p in os.listdir(metadata_dir(d))
        if p.endswith(".metadata.json")
    )
    with open(os.path.join(metadata_dir(d), f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta2, fh)
    with open(os.path.join(metadata_dir(d), "version-hint.text"), "w") as fh:
        fh.write(str(v))

    src = IcebergConversionSource(spark, d, expose_row_deletes=True)
    snap = src.get_current_snapshot()
    rd = model_rows(snap.row_deletes)
    assert len(rd) == 1 and rd[0]["delete_count"] == 2
    # spec-native int (19783) converted back to the engine's string
    assert rd[0]["partition_values"] == {"ts_day": "2024-03-01"}
    # and it agrees with the data inventory's convention
    f = model_rows(snap.files)[0]
    assert f["partition_values"] == {"ts_day": "2024-03-01"}


def test_mixed_targets_degrade_to_shadows_with_row_parity(spark, tmp_path):
    """The documented guarantee: when ANY target lacks
    supports_row_deletes (Hudi COW cannot express position tombstones),
    run_sync keeps exposure OFF for the whole run and every target
    converges via purged-shadow rewrites — with row parity across all
    three read paths."""
    from incubator_xtable_spark.model.core import SyncMode
    from incubator_xtable_spark.run_sync import run_once
    from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df

    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])

    cfg = {
        "sourceFormat": "DELTA",
        "targetFormats": ["ICEBERG", "HUDI"],
        "datasets": [{"tableBasePath": base, "tableName": "dvtab"}],
    }
    failures = run_once(spark, cfg, SyncMode.INCREMENTAL)
    assert failures == 0

    expected = sorted(range(20))
    expected = [i for i in expected if i not in (2, 3, 7)]
    via_delta = _ids(read_delta_as_df(spark, base))
    via_ice = _ids(read_iceberg_as_df(spark, base))
    via_hudi = _ids(read_hudi_as_df(spark, base))
    assert via_delta == via_ice == via_hudi == expected

    # degraded mode is visible: shadows exist, iceberg wrote NO delete
    # manifests (all content=0)
    assert glob.glob(os.path.join(base, "*.purged-*"))
    src = IcebergConversionSource(spark, base)
    meta = src._meta()
    entries = live_entries(meta, meta["current-snapshot-id"])[0]
    assert all((e["data_file"].get("content") or 0) == 0 for e in entries)
