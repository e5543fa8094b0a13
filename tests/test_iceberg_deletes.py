"""Iceberg v2 position-delete differentials: tables carrying delete
files (spec content=1 manifests, file_path/pos delete parquet, the
delete_seq >= data_seq application rule) read row-accurately and convert
to row-accurate targets via purged shadows — the Iceberg twin of the
Delta DV suite (ref scenario: iceberg v2 row-level deletes,
IcebergSchemaExtractor/DataFileExtractor surface).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_xtable_spark.model.avro_codec import read_ocf, write_ocf
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.model.iceberg_manifests import live_entries
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.iceberg_source import (
    IcebergConversionSource,
    read_iceberg_as_df,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.iceberg_target import (
    MANIFEST_LIST_SCHEMA,
    manifest_entry_schema,
    metadata_dir,
    read_table_metadata,
)
from .model_tables import model_rows


def _write_positions(path: str, rows: list[tuple[str, int]]) -> None:
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([r[0] for r in rows], pa.string()),
                "pos": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        path,
    )


def _append_delete_snapshot(
    d: str, rows: list[tuple[str, int]], snapshot_id: int, seq: int, referenced: bool = False
) -> None:
    """Append a spec-shaped snapshot ``snapshot_id`` at sequence ``seq``
    to the head: its manifest list is the head's plus one delete manifest
    (content=1) holding one position-delete parquet of ``rows``, whose
    entry names the one data file they delete as `referenced_data_file`
    when ``referenced``."""
    meta = read_table_metadata(d)
    head = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    pos_path = os.path.join(d, f"delete-{snapshot_id}.parquet")
    _write_positions(pos_path, rows)
    del_manifest = os.path.join(metadata_dir(d), f"del-m-{snapshot_id}.avro")
    data_file = {
        "content": 1,
        "file_path": pos_path,
        "file_format": "PARQUET",
        "partition": {},
        "record_count": len(rows),
        "file_size_in_bytes": os.path.getsize(pos_path),
    }
    if referenced:
        (data_file["referenced_data_file"],) = {path for path, _ in rows}
    dlen = write_ocf(
        del_manifest,
        # the v3 entry schema is the one with referenced_data_file
        manifest_entry_schema([], format_version=3 if referenced else 2),
        [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": data_file,
            }
        ],
        extra_meta={"format-version": "2", "content": "deletes"},
    )
    new_list = os.path.join(metadata_dir(d), f"snap-{snapshot_id}-del.avro")
    write_ocf(
        new_list,
        MANIFEST_LIST_SCHEMA,
        read_ocf(head["manifest-list"])[0]
        + [
            {
                "manifest_path": del_manifest,
                "manifest_length": dlen,
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": len(rows),
                "existing_rows_count": 0,
                "deleted_rows_count": len(rows),
            }
        ],
        extra_meta={"format-version": "2"},
    )
    meta2 = json.loads(json.dumps(meta))
    meta2["last-sequence-number"] = seq
    meta2["current-snapshot-id"] = snapshot_id
    meta2["snapshots"].append(
        {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": head["snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": head["timestamp-ms"] + 1,
            "manifest-list": new_list,
            "summary": {"operation": "delete"},
            "schema-id": 0,
        }
    )
    v = max(
        int(fn[1:].split(".")[0])
        for fn in os.listdir(metadata_dir(d))
        if fn.startswith("v") and fn.endswith(".metadata.json")
    )
    with open(os.path.join(metadata_dir(d), f"v{v + 1}.metadata.json"), "w") as fh:
        json.dump(meta2, fh)
    with open(os.path.join(metadata_dir(d), "version-hint.text"), "w") as fh:
        fh.write(str(v + 1))


def _data_files(d: str) -> list[str]:
    meta = read_table_metadata(d)
    return sorted(e["data_file"]["file_path"] for e in live_entries(meta, meta["current-snapshot-id"])[0])


@pytest.fixture()
def deleted_table(spark, tmp_path):
    """Build an Iceberg table via our target (snapshot 1), then append a
    spec-shaped snapshot 2 carrying a position-delete manifest that
    removes 3 rows of the first data file."""
    import pyspark.sql.functions as F

    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    d = str(tmp_path / "icedel")
    df = spark.range(0, 20).select(
        F.col("id").cast("long").alias("id"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    df.coalesce(2).write.mode("overwrite").parquet(d)
    source = ParquetConversionSource(spark, d, name="icedel")
    target = IcebergConversionTarget(spark, d, table_name="icedel")
    res = ConversionController().sync(source, {TableFormat.ICEBERG: target})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS

    victim = _data_files(d)[0]
    # delete rows 0,1,2 of the victim file at sequence 2
    _append_delete_snapshot(d, [(victim, 0), (victim, 1), (victim, 2)], 999, 2)
    return d, victim


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_read_applies_position_deletes(spark, deleted_table):
    d, victim = deleted_table
    got = _ids(read_iceberg_as_df(spark, d))
    assert len(got) == 17  # 20 - 3 deleted
    # time travel to snapshot 1 sees all rows
    meta = read_table_metadata(d)
    snap1 = next(s["snapshot-id"] for s in meta["snapshots"] if s["snapshot-id"] != 999)
    assert len(_ids(read_iceberg_as_df(spark, d, snapshot_id=snap1))) == 20


def test_snapshot_uses_purged_shadow(spark, deleted_table):
    d, victim = deleted_table
    src = IcebergConversionSource(spark, d)
    snap = src.get_current_snapshot()
    rows = {r["physical_path"]: r for r in model_rows(snap.files)}
    shadows = [p for p in rows if ".purged-" in p]
    assert len(shadows) == 1
    deleted_victim_rows = 3
    total = sum(r["record_count"] for r in rows.values())
    assert total == 20 - deleted_victim_rows
    # shadow stats recomputed from its own footer
    assert rows[shadows[0]]["column_stats"] is not None


def test_diff_swaps_shadow_for_original(spark, deleted_table):
    d, victim = deleted_table
    src = IcebergConversionSource(spark, d)
    change = src.get_table_change_for_commit("999")
    added = [r["physical_path"] for r in model_rows(change.files_added)]
    removed = [r["physical_path"] for r in model_rows(change.files_removed)]
    assert len(added) == 1 and ".purged-" in added[0]
    assert removed == [victim]


def test_conversion_row_parity(spark, deleted_table):
    d, victim = deleted_table
    src = IcebergConversionSource(spark, d)
    target = DeltaConversionTarget(spark, d)
    res = ConversionController().sync(src, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error
    assert _ids(read_delta_as_df(spark, d)) == _ids(read_iceberg_as_df(spark, d))


def test_sequence_rule_gates_application(spark, deleted_table):
    """A delete file OLDER than the data file does not apply: rewrite the
    delete manifest's sequence number to 0 (< data seq 1) and the table
    reads whole again."""
    d, victim = deleted_table
    meta = read_table_metadata(d)
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == 999)
    records = read_ocf(snap["manifest-list"])[0]
    for r in records:
        if r.get("content") == 1:
            # rewrite the delete manifest with sequence 0
            del_entries = read_ocf(r["manifest_path"])[0]
            for e in del_entries:
                e["sequence_number"] = 0
            new_path = os.path.join(metadata_dir(d), "del-m0-seq0.avro")
            write_ocf(
                new_path,
                manifest_entry_schema([]),
                del_entries,
                extra_meta={"format-version": "2", "content": "deletes"},
            )
            r["manifest_path"] = new_path
    write_ocf(
        snap["manifest-list"], MANIFEST_LIST_SCHEMA, records, extra_meta={"format-version": "2"}
    )
    assert len(_ids(read_iceberg_as_df(spark, d))) == 20


def test_delete_for_another_file_keeps_the_victims_outputs(spark, deleted_table):
    """A later snapshot adds a delete for the OTHER data file only. The
    victim's delete set is unchanged, so its positions file (expose on)
    and purged shadow (expose off) keep their names; the expose-off
    change neither removes nor re-adds the victim, and its shadow is not
    rewritten."""
    d, victim = deleted_table
    other = _data_files(d)[1]

    def positions_paths():
        src = IcebergConversionSource(spark, d, expose_row_deletes=True)
        return {
            r["data_file_path"]: r["positions_path"]
            for r in model_rows(src.get_current_snapshot().row_deletes)
        }

    def shadows():
        snap = IcebergConversionSource(spark, d).get_current_snapshot()
        return sorted(r["physical_path"] for r in model_rows(snap.files) if ".purged-" in r["physical_path"])

    before = positions_paths()
    (shadow,) = shadows()
    stat = os.stat(shadow)

    _append_delete_snapshot(d, [(other, 4)], 1000, 3)
    after = positions_paths()
    assert after[victim] == before[victim]
    assert set(after) == {victim, other}
    change = IcebergConversionSource(spark, d).get_table_change_for_commit("1000")
    added = [r["physical_path"] for r in model_rows(change.files_added)]
    removed = [r["physical_path"] for r in model_rows(change.files_removed)]
    assert removed == [other]
    assert len(added) == 1 and added[0].startswith(other[: -len(".parquet")] + ".purged-")
    assert shadow in shadows()
    after_stat = os.stat(shadow)
    assert (after_stat.st_ino, after_stat.st_mtime_ns) == (stat.st_ino, stat.st_mtime_ns)
    assert len(_ids(read_iceberg_as_df(spark, d))) == 16


@pytest.mark.parametrize("expose", [False, True], ids=["shadows", "positions_files"])
def test_sync_after_the_output_naming_changed(spark, deleted_table, monkeypatch, expose):
    """A target converted while outputs were named for the table's whole
    delete set holds names this source no longer derives, and its
    bookmark carries no source view. After a delete for the same file,
    the next sync stays row-accurate: purged shadows restate FULL (the
    old shadow leaves the target, no row counts twice), positions files
    are superseded per data file by an INCREMENTAL sync. The sync after
    that runs INCREMENTAL."""
    from incubator_xtable_spark.model.core import SyncMode
    from incubator_xtable_spark.sources import iceberg_source

    d, victim = deleted_table
    other = _data_files(d)[1]

    def sync(src):
        res = ConversionController().sync(src, {TableFormat.DELTA: DeltaConversionTarget(spark, d)})[
            TableFormat.DELTA
        ]
        assert res.status == SyncStatusCode.SUCCESS, res.error
        return res.mode

    def source():
        return IcebergConversionSource(spark, d, expose_row_deletes=expose)

    with monkeypatch.context() as m:
        m.setattr(iceberg_source, "positions_id", lambda positions: "a11de1e7")
        legacy = source()
        legacy.sync_view = None
        sync(legacy)
    assert len(_ids(read_delta_as_df(spark, d))) == 17

    _append_delete_snapshot(d, [(victim, 5)], 1000, 3)
    assert sync(source()) == (SyncMode.INCREMENTAL if expose else SyncMode.FULL)
    assert _ids(read_delta_as_df(spark, d)) == _ids(read_iceberg_as_df(spark, d))
    assert len(_ids(read_delta_as_df(spark, d))) == 16

    _append_delete_snapshot(d, [(other, 4)], 1001, 4)
    assert sync(source()) == SyncMode.INCREMENTAL
    assert _ids(read_delta_as_df(spark, d)) == _ids(read_iceberg_as_df(spark, d))
    assert len(_ids(read_delta_as_df(spark, d))) == 15


def test_position_file_with_a_referenced_data_file(spark, deleted_table):
    """A position-delete parquet may name the one data file it deletes
    from in `referenced_data_file`; it still reads as a parquet of
    (file_path, pos) rows, not as a Puffin deletion vector."""
    d, _ = deleted_table
    other = _data_files(d)[1]
    _append_delete_snapshot(d, [(other, 4), (other, 6)], 1000, 3, referenced=True)
    assert len(_ids(read_iceberg_as_df(spark, d))) == 15
    snap = IcebergConversionSource(spark, d, expose_row_deletes=True).get_current_snapshot()
    assert sorted(r["delete_count"] for r in model_rows(snap.row_deletes)) == [2, 3]
