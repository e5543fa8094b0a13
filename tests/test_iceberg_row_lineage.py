"""Iceberg v3 Row Lineage (spec "Row Lineage"): first_row_id per data
file (manifest field 142), per-manifest inheritance base (manifest-list
field 520), snapshot first-row-id, table next-row-id — plus `_row_id`
reads (read_iceberg_as_df(with_row_ids=True), the Iceberg twin of the
Delta Row Tracking reads).

Gates: fresh assignment + monotone next-row-id, id stability across
incremental appends and DV deletes, the manifest-inheritance read path
for foreign writers that leave per-file ids null, v2 tables untouched,
and red-proven conformance (overlap / bound)."""

from __future__ import annotations

import json
import os

import pytest

from incubator_xtable_spark.model.avro_codec import read_ocf, write_ocf
from incubator_xtable_spark.model.conformance import check_iceberg_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.model.iceberg_manifests import live_entries
from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
from incubator_xtable_spark.sources.iceberg_source import (
    IcebergConversionSource,
    read_iceberg_as_df,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.iceberg_target import (
    IcebergConversionTarget,
    manifest_entry_schema,
    manifest_list_schema,
)

from .test_row_delete_conversion import (
    _add,
    _base_table,
    _dv_commit,
    _log_write,
    _write_data_file,
)


def _sync_v3(spark, base, **kw):
    res = ConversionController().sync(
        DeltaConversionSource(spark, base, **kw),
        {
            TableFormat.ICEBERG: IcebergConversionTarget(
                spark, base, table_name="rl", format_version=3
            )
        },
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res[
        TableFormat.ICEBERG
    ].error


def _live_data_entries(spark, base):
    src = IcebergConversionSource(spark, base)
    meta = src._meta()
    return meta, live_entries(meta, meta["current-snapshot-id"])[0]


def test_v3_assigns_disjoint_row_ids_and_next_row_id(spark, tmp_path):
    base, _s1, _s2 = _base_table(tmp_path)  # two 10-row files
    _sync_v3(spark, base)
    meta, entries = _live_data_entries(spark, base)
    assert meta["next-row-id"] == 20
    head = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert head["first-row-id"] == 0
    ranges = sorted(
        (e["data_file"]["first_row_id"], e["data_file"]["record_count"]) for e in entries
    )
    assert ranges == [(0, 10), (10, 10)]
    report = check_iceberg_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_row_ids_stable_across_incremental_append(spark, tmp_path):
    base, _s1, _s2 = _base_table(tmp_path)
    _sync_v3(spark, base)
    before = {
        e["data_file"]["file_path"]: e["data_file"]["first_row_id"]
        for e in _live_data_entries(spark, base)[1]
    }
    s3 = _write_data_file(os.path.join(base, "part-0003.parquet"), list(range(20, 25)))
    _log_write(base, 1, [_add(base, "part-0003.parquet", s3)])
    _sync_v3(spark, base)
    meta, entries = _live_data_entries(spark, base)
    after = {
        e["data_file"]["file_path"]: e["data_file"]["first_row_id"] for e in entries
    }
    for path, fid in before.items():
        assert after[path] == fid, "carried file must keep its row-id range"
    new = [p for p in after if p not in before]
    assert len(new) == 1 and after[new[0]] == 20
    assert meta["next-row-id"] == 25
    df = read_iceberg_as_df(spark, base, with_row_ids=True)
    got = sorted(r["_row_id"] for r in df.select("_row_id").collect())
    assert got == list(range(25))
    report = check_iceberg_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_row_ids_survive_dv_deletes(spark, tmp_path):
    """DV-deleting rows must not shift surviving rows' _row_id (lineage
    is positional against the ORIGINAL file)."""
    base, s1, _s2 = _base_table(tmp_path)
    _sync_v3(spark, base, expose_row_deletes=True)
    _dv_commit(base, 1, s1, [2, 3, 7])
    _sync_v3(spark, base, expose_row_deletes=True)
    df = read_iceberg_as_df(spark, base, with_row_ids=True)
    rows = {r["id"]: r["_row_id"] for r in df.select("id", "_row_id").collect()}
    # ids == positions in these fixtures: surviving row ids keep their slots
    assert sorted(rows) == [i for i in range(20) if i not in (2, 3, 7)]
    for rid, row_id in rows.items():
        assert row_id == rid
    meta, _ = _live_data_entries(spark, base)
    assert meta["next-row-id"] == 20  # DV update assigns no new range


def test_inheritance_resolves_null_file_ids(spark, tmp_path):
    """A foreign v3 writer may leave per-file first_row_id null and rely
    on manifest-level inheritance (field 520 + preceding record counts):
    rewrite the engine's manifest with nulled file ids and assert the
    resolved ids are unchanged."""
    base, _s1, _s2 = _base_table(tmp_path)
    _sync_v3(spark, base)
    src = IcebergConversionSource(spark, base)
    meta = src._meta()
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    [mf] = read_ocf(snap["manifest-list"])[0]
    entries, raw_meta = read_ocf(mf["manifest_path"])
    manifest_meta = {
        k: v.decode("utf-8")
        for k, v in raw_meta.items()
        if k in ("schema", "partition-spec", "partition-spec-id", "format-version", "content")
    }
    # order by assigned id so inheritance reproduces the same assignment
    entries.sort(key=lambda e: e["data_file"]["first_row_id"])
    expect = [e["data_file"]["first_row_id"] for e in entries]
    base_id = expect[0]
    for e in entries:
        e["data_file"]["first_row_id"] = None
    tmp_manifest = mf["manifest_path"] + ".rewrite"
    write_ocf(tmp_manifest, manifest_entry_schema([], 3), entries, extra_meta=manifest_meta)
    os.replace(tmp_manifest, mf["manifest_path"])
    # manifest list: pin the inheritance base, fix the length
    mf["first_row_id"] = base_id
    mf["manifest_length"] = os.path.getsize(mf["manifest_path"])
    tmp_list = snap["manifest-list"] + ".rewrite"
    write_ocf(tmp_list, manifest_list_schema(3), [mf], extra_meta={"format-version": "3"})
    os.replace(tmp_list, snap["manifest-list"])

    _meta2, resolved = _live_data_entries(spark, base)
    got = sorted(e["data_file"]["first_row_id"] for e in resolved)
    assert got == sorted(expect)
    df = read_iceberg_as_df(spark, base, with_row_ids=True)
    assert sorted(r["_row_id"] for r in df.select("_row_id").collect()) == list(range(20))
    report = check_iceberg_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_v2_to_v3_upgrade_assigns_carried_files_once(spark, tmp_path):
    base, _s1, _s2 = _base_table(tmp_path)
    res = ConversionController().sync(
        DeltaConversionSource(spark, base),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, base, table_name="rl")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    meta = IcebergConversionSource(spark, base)._meta()
    assert meta["format-version"] == 2 and "next-row-id" not in meta
    with pytest.raises(ValueError, match="first_row_id"):
        read_iceberg_as_df(spark, base, with_row_ids=True)
    # upgrade: next sync at format_version=3 assigns ids to carried files
    s3 = _write_data_file(os.path.join(base, "part-0003.parquet"), list(range(20, 25)))
    _log_write(base, 1, [_add(base, "part-0003.parquet", s3)])
    _sync_v3(spark, base)
    meta, entries = _live_data_entries(spark, base)
    assert meta["format-version"] == 3 and meta["next-row-id"] == 25
    ranges = sorted(
        (e["data_file"]["first_row_id"], e["data_file"]["record_count"]) for e in entries
    )
    assert [r[0] for r in ranges] == [0, 10, 20]
    report = check_iceberg_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def _rewrite_head_metadata(base, mutate):
    from incubator_xtable_spark.targets.iceberg_target import (
        read_metadata_json_file,
        resolve_current_metadata_path,
    )

    p = resolve_current_metadata_path(base)
    meta = read_metadata_json_file(p)
    mutate(meta)
    with open(p, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)


def test_conformance_red_on_row_id_violations(spark, tmp_path):
    base, _s1, _s2 = _base_table(tmp_path)
    _sync_v3(spark, base)

    # next-row-id regressed below the max assigned end
    _rewrite_head_metadata(base, lambda m: m.update({"next-row-id": 5}))
    codes = {i.code for i in check_iceberg_conformance(spark, base).issues}
    assert "ICE_ROW_ID_BOUND" in codes

    # missing next-row-id on a v3 table
    _rewrite_head_metadata(base, lambda m: m.pop("next-row-id"))
    codes = {i.code for i in check_iceberg_conformance(spark, base).issues}
    assert "ICE_NEXT_ROW_ID_MISSING" in codes


def test_conformance_red_on_overlapping_ranges(spark, tmp_path):
    base, _s1, _s2 = _base_table(tmp_path)
    _sync_v3(spark, base)
    src = IcebergConversionSource(spark, base)
    meta = src._meta()
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    [mf] = read_ocf(snap["manifest-list"])[0]
    entries = read_ocf(mf["manifest_path"])[0]
    for e in entries:
        e["data_file"]["first_row_id"] = 0  # every file claims the same range
    tmp_manifest = mf["manifest_path"] + ".rewrite"
    write_ocf(
        tmp_manifest,
        manifest_entry_schema([], 3),
        entries,
        extra_meta={"format-version": "3", "content": "data"},
    )
    os.replace(tmp_manifest, mf["manifest_path"])
    mf["manifest_length"] = os.path.getsize(mf["manifest_path"])
    tmp_list = snap["manifest-list"] + ".rewrite"
    write_ocf(tmp_list, manifest_list_schema(3), [mf], extra_meta={"format-version": "3"})
    os.replace(tmp_list, snap["manifest-list"])
    codes = {i.code for i in check_iceberg_conformance(spark, base).issues}
    assert "ICE_ROW_ID_OVERLAP" in codes
