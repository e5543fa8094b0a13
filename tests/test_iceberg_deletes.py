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

    meta = read_table_metadata(d)
    src = IcebergConversionSource(spark, d)
    entries = live_entries(meta, meta["current-snapshot-id"])[0]
    victim = sorted(e["data_file"]["file_path"] for e in entries)[0]

    # positions parquet: delete rows 0,1,2 of the victim file
    pos_path = os.path.join(d, "delete-0001.parquet")
    _write_positions(pos_path, [(victim, 0), (victim, 1), (victim, 2)])

    # delete manifest (content=1 entries) at sequence 2
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

    # new manifest list = old manifests + the delete manifest
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

    # snapshot 2 in a new metadata version
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
