"""Iceberg v2 equality-delete differentials: content=2 delete manifests
with equality_ids resolve to row-accurate reads and conversions.

The spec semantics under test (Iceberg table spec, v2 row-level
deletes): an equality delete row removes every data row with matching
values in the equality columns from data files whose sequence number is
STRICTLY LESS than the delete file's (position deletes use >=); NULLs
match null-safely; a delete file written into a partition applies only
to that partition, a partition-less delete file applies globally.
Fixtures are hand-built from the spec — our own target never writes
equality deletes (they come from streaming/CDC writers), which is
exactly why the source must read them.
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


def _field_id(src: IcebergConversionSource, name: str) -> int:
    table = src.get_current_table()
    f = next(f for f in table.read_schema.fields if f.name == name)
    return (f.metadata or {}).get("xtable.fieldId")


def _append_delete_snapshot(
    spark,
    d: str,
    eq_files: list[tuple[str, list[int], dict]],
    data_files: list[tuple[str, int]] = (),
    seq: int = 2,
    snapshot_id: int = 999,
    inherit_seq: bool = False,
) -> None:
    """Append a spec-shaped snapshot carrying equality-delete entries
    (path, equality_ids, partition) and optional new data files
    (path, record_count), all at sequence ``seq``. ``inherit_seq`` writes
    the ADDED entries with null sequence numbers, left to the manifest
    list record's ``sequence_number`` (how Iceberg Java writes a fresh
    manifest)."""
    entry_seq = None if inherit_seq else seq
    meta = read_table_metadata(d)
    snap_prev = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    part_names = sorted({k for _, _, part in eq_files for k in part})
    schema_json = manifest_entry_schema(part_names)

    new_manifests = []
    if eq_files:
        del_manifest = os.path.join(metadata_dir(d), f"eqdel-m{snapshot_id}.avro")
        dlen = write_ocf(
            del_manifest,
            schema_json,
            [
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": entry_seq,
                    "file_sequence_number": entry_seq,
                    "data_file": {
                        "content": 2,
                        "file_path": p,
                        "file_format": "PARQUET",
                        "partition": {k: str(v) for k, v in part.items()},
                        "record_count": pq.read_metadata(p).num_rows,
                        "file_size_in_bytes": os.path.getsize(p),
                        "equality_ids": ids,
                    },
                }
                for p, ids, part in eq_files
            ],
            extra_meta={"format-version": "2", "content": "deletes"},
        )
        new_manifests.append(
            {
                "manifest_path": del_manifest,
                "manifest_length": dlen,
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(eq_files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 0,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )
    if data_files:
        add_manifest = os.path.join(metadata_dir(d), f"eqadd-m{snapshot_id}.avro")
        alen = write_ocf(
            add_manifest,
            schema_json,
            [
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": entry_seq,
                    "file_sequence_number": entry_seq,
                    "data_file": {
                        "content": 0,
                        "file_path": p,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": n,
                        "file_size_in_bytes": os.path.getsize(p),
                    },
                }
                for p, n in data_files
            ],
            extra_meta={"format-version": "2", "content": "data"},
        )
        new_manifests.append(
            {
                "manifest_path": add_manifest,
                "manifest_length": alen,
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(data_files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": sum(n for _, n in data_files),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )

    old_manifests = read_ocf(snap_prev["manifest-list"])[0]
    new_list = os.path.join(metadata_dir(d), f"snap-{snapshot_id}-eq.avro")
    write_ocf(
        new_list,
        MANIFEST_LIST_SCHEMA,
        old_manifests + new_manifests,
        extra_meta={"format-version": "2"},
    )
    meta2 = json.loads(json.dumps(meta))
    meta2["last-sequence-number"] = seq
    meta2["current-snapshot-id"] = snapshot_id
    meta2["snapshots"].append(
        {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": snap_prev["snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": snap_prev["timestamp-ms"] + 1,
            "manifest-list": new_list,
            "summary": {"operation": "overwrite"},
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


# the three sequence-rule tests run on explicit entry sequence numbers
# and on ADDED entries that inherit them from the manifest list
_SEQ_SHAPES = pytest.mark.parametrize(
    "inherit_seq", [False, True], ids=["explicit_seq", "inherited_seq"]
)


def _make_table(spark, tmp_path, n=20, files=2):
    """Unpartitioned Iceberg table with ids 0..n-1 over `files` files."""
    import pyspark.sql.functions as F

    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    d = str(tmp_path / "iceq")
    df = spark.range(0, n).select(
        F.col("id").cast("long").alias("id"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    df.coalesce(files).write.mode("overwrite").parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="iceq"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, d, table_name="iceq")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    return d


def _eq_parquet(path: str, cols: dict) -> str:
    pq.write_table(pa.table(cols), path)
    return path


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


@_SEQ_SHAPES
def test_read_applies_equality_deletes(spark, tmp_path, inherit_seq):
    d = _make_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d)
    fid = _field_id(src, "id")
    eq = _eq_parquet(
        os.path.join(d, "eqdel-1.parquet"), {"id": pa.array([3, 7, 12], pa.int64())}
    )
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], inherit_seq=inherit_seq)
    got = _ids(read_iceberg_as_df(spark, d))
    assert got == [i for i in range(20) if i not in (3, 7, 12)]
    # time travel to snapshot 1 still sees all rows
    meta = read_table_metadata(d)
    snap1 = next(s["snapshot-id"] for s in meta["snapshots"] if s["snapshot-id"] != 999)
    assert len(_ids(read_iceberg_as_df(spark, d, snapshot_id=snap1))) == 20


@_SEQ_SHAPES
def test_strict_sequence_rule_spares_same_commit_file(spark, tmp_path, inherit_seq):
    """A data file added in the SAME snapshot as the equality delete
    (equal sequence numbers) is NOT affected — the strict < rule, which
    is exactly how CDC upserts re-insert the new row version."""
    import pyspark.sql.functions as F

    d = _make_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d)
    fid = _field_id(src, "id")
    # the upsert: delete id=3 everywhere older, re-add id=3 with new name
    newfile = os.path.join(d, "upsert-00001.parquet")
    spark.createDataFrame([(3, "NEW")], "id LONG, name STRING").coalesce(1).write.mode(
        "overwrite"
    ).parquet(newfile + ".dir")
    import glob as _glob
    import shutil as _shutil

    part = _glob.glob(os.path.join(newfile + ".dir", "part-*.parquet"))[0]
    _shutil.move(part, newfile)
    _shutil.rmtree(newfile + ".dir")
    eq = _eq_parquet(os.path.join(d, "eqdel-2.parquet"), {"id": pa.array([3], pa.int64())})
    _append_delete_snapshot(
        spark, d, [(eq, [fid], {})], data_files=[(newfile, 1)], inherit_seq=inherit_seq
    )
    df = read_iceberg_as_df(spark, d)
    assert _ids(df) == list(range(20))  # still one id=3 — the NEW row
    assert df.filter(F.col("id") == 3).select("name").collect()[0][0] == "NEW"


@_SEQ_SHAPES
def test_conversion_purged_shadows_row_parity(spark, tmp_path, inherit_seq):
    """Iceberg-with-equality-deletes -> Delta converts row-accurately via
    purged shadows (default posture: target formats get plain files)."""
    d = _make_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d)
    fid = _field_id(src, "id")
    eq = _eq_parquet(
        os.path.join(d, "eqdel-3.parquet"), {"id": pa.array([0, 5, 19], pa.int64())}
    )
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], inherit_seq=inherit_seq)
    delta_dir = str(tmp_path / "as_delta")
    res = ConversionController().sync(
        IcebergConversionSource(spark, d),
        {TableFormat.DELTA: DeltaConversionTarget(spark, delta_dir)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    assert _ids(read_delta_as_df(spark, delta_dir)) == _ids(read_iceberg_as_df(spark, d))
    assert len(_ids(read_delta_as_df(spark, delta_dir))) == 17


def test_conversion_exposed_as_delta_deletion_vectors(spark, tmp_path):
    """With expose_row_deletes, equality deletes become REAL Delta
    deletion vectors — no data rewrite, metadata-only conversion."""
    d = _make_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d)
    fid = _field_id(src, "id")
    eq = _eq_parquet(
        os.path.join(d, "eqdel-4.parquet"), {"id": pa.array([1, 2, 8], pa.int64())}
    )
    _append_delete_snapshot(spark, d, [(eq, [fid], {})])
    delta_dir = str(tmp_path / "as_delta_dv")
    res = ConversionController().sync(
        IcebergConversionSource(spark, d, expose_row_deletes=True),
        {TableFormat.DELTA: DeltaConversionTarget(spark, delta_dir)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    assert _ids(read_delta_as_df(spark, delta_dir)) == [
        i for i in range(20) if i not in (1, 2, 8)
    ]
    # the add actions carry deletionVector descriptors, not shadow paths
    log = os.path.join(delta_dir, "_delta_log")
    dv_seen, shadow_seen = False, False
    for fn in sorted(os.listdir(log)):
        if fn.endswith(".json"):
            for line in open(os.path.join(log, fn)):
                a = json.loads(line)
                add = a.get("add")
                if add and add.get("deletionVector"):
                    dv_seen = True
                if add and ".purged-" in add["path"]:
                    shadow_seen = True
    assert dv_seen and not shadow_seen


def test_null_safe_matching(spark, tmp_path):
    """A NULL in an equality column matches NULL data values (spec:
    equality matching treats null as equal to null)."""
    import pyspark.sql.functions as F

    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    d = str(tmp_path / "icnull")
    df = spark.createDataFrame(
        [(0, "a"), (1, None), (2, "c"), (3, None)], "id LONG, name STRING"
    )
    df.coalesce(1).write.mode("overwrite").parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="icnull"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, d, table_name="icnull")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    src = IcebergConversionSource(spark, d)
    fid = _field_id(src, "name")
    eq = _eq_parquet(
        os.path.join(d, "eqdel-null.parquet"), {"name": pa.array([None], pa.string())}
    )
    _append_delete_snapshot(spark, d, [(eq, [fid], {})])
    assert _ids(read_iceberg_as_df(spark, d)) == [0, 2]


def test_mixed_position_and_equality_deletes(spark, tmp_path):
    """Position deletes (>= rule) and equality deletes (< rule) from the
    same snapshot both apply."""
    d = _make_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d)
    fid = _field_id(src, "id")
    meta = read_table_metadata(d)
    entries = live_entries(meta, meta["current-snapshot-id"])[0]
    victim = sorted(e["data_file"]["file_path"] for e in entries)[0]
    pos = os.path.join(d, "posdel-1.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([victim, victim], pa.string()),
                "pos": pa.array([0, 1], pa.int64()),
            }
        ),
        pos,
    )
    eq = _eq_parquet(os.path.join(d, "eqdel-5.parquet"), {"id": pa.array([15], pa.int64())})
    # hand-craft: one delete manifest holding BOTH entries
    meta = read_table_metadata(d)
    snap_prev = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    schema_json = manifest_entry_schema([])
    del_manifest = os.path.join(metadata_dir(d), "mixed-del.avro")
    dlen = write_ocf(
        del_manifest,
        schema_json,
        [
            {
                "status": 1,
                "snapshot_id": 999,
                "sequence_number": 2,
                "file_sequence_number": 2,
                "data_file": {
                    "content": 1,
                    "file_path": pos,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 2,
                    "file_size_in_bytes": os.path.getsize(pos),
                },
            },
            {
                "status": 1,
                "snapshot_id": 999,
                "sequence_number": 2,
                "file_sequence_number": 2,
                "data_file": {
                    "content": 2,
                    "file_path": eq,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(eq),
                    "equality_ids": [fid],
                },
            },
        ],
        extra_meta={"format-version": "2", "content": "deletes"},
    )
    old_manifests = read_ocf(snap_prev["manifest-list"])[0]
    new_list = os.path.join(metadata_dir(d), "snap-999-mixed.avro")
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
                "added_files_count": 2,
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
            "parent-snapshot-id": snap_prev["snapshot-id"],
            "sequence-number": 2,
            "timestamp-ms": snap_prev["timestamp-ms"] + 1,
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

    got = _ids(read_iceberg_as_df(spark, d))
    # two positional rows of the victim file + id=15 gone
    assert len(got) == 17 and 15 not in got


def test_partition_scoped_equality_delete(spark, tmp_path):
    """An equality delete written INTO a partition deletes only there; an
    identity-partition table also exercises the manifest-value attach
    path for the partition column when it is an equality column."""
    import pyspark.sql.functions as F

    from incubator_xtable_spark.run_sync import parse_partition_spec
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    d = str(tmp_path / "icpart")
    df = spark.createDataFrame(
        [(i, i % 2, f"n{i}") for i in range(10)], "id LONG, bucket LONG, name STRING"
    )
    df.repartition(1).write.partitionBy("bucket").mode("overwrite").parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(
            spark, d, name="icpart", partition_fields=parse_partition_spec("bucket:VALUE")
        ),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, d, table_name="icpart")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    src = IcebergConversionSource(spark, d)
    fid_id = _field_id(src, "id")
    # delete id in (2,3): scoped to partition bucket=0, so only id=2 goes
    eq = _eq_parquet(
        os.path.join(d, "eqdel-part.parquet"), {"id": pa.array([2, 3], pa.int64())}
    )
    _append_delete_snapshot(spark, d, [(eq, [fid_id], {"bucket": 0})])
    got = _ids(read_iceberg_as_df(spark, d))
    assert got == [i for i in range(10) if i != 2]


def test_equality_on_identity_partition_column(spark, tmp_path):
    """The equality column IS the identity partition column (absent from
    the data files): values attach from manifest partition values."""
    from incubator_xtable_spark.run_sync import parse_partition_spec
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    d = str(tmp_path / "icpcol")
    df = spark.createDataFrame(
        [(i, i % 3, f"n{i}") for i in range(12)], "id LONG, bucket LONG, name STRING"
    )
    df.repartition(1).write.partitionBy("bucket").mode("overwrite").parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(
            spark, d, name="icpcol", partition_fields=parse_partition_spec("bucket:VALUE")
        ),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, d, table_name="icpcol")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    src = IcebergConversionSource(spark, d)
    fid_bucket = _field_id(src, "bucket")
    # the delete file stores the TABLE's column type (the partition
    # column round-trips through hive paths as int32 here)
    eq = _eq_parquet(
        os.path.join(d, "eqdel-pcol.parquet"), {"bucket": pa.array([1], pa.int32())}
    )
    _append_delete_snapshot(spark, d, [(eq, [fid_bucket], {})])
    got = _ids(read_iceberg_as_df(spark, d))
    assert got == [i for i in range(12) if i % 3 != 1]


def test_equality_delete_on_name_mapped_column(spark, tmp_path):
    """Data files store the PHYSICAL column name (column-mapped Delta
    source); the equality join must resolve it via the name mapping —
    a logical-name read would null the join key and delete nothing."""
    import time

    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    dbase = str(tmp_path / "src")
    os.makedirs(os.path.join(dbase, "_delta_log"))
    pq.write_table(
        pa.table({"col-xyz": pa.array(list(range(10)), pa.int64())}),
        os.path.join(dbase, "p0.parquet"),
    )
    schema_json = {
        "type": "struct",
        "fields": [
            {
                "name": "logical_id",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-xyz",
                },
            }
        ],
    }
    now = int(time.time() * 1000)
    with open(os.path.join(dbase, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "t",
                        "schemaString": json.dumps(schema_json),
                        "partitionColumns": [],
                        "configuration": {"delta.columnMapping.mode": "name"},
                        "createdTime": now,
                    }
                }
            )
            + "\n"
        )
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": "p0.parquet",
                        "partitionValues": {},
                        "size": os.path.getsize(os.path.join(dbase, "p0.parquet")),
                        "modificationTime": now,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    idir = str(tmp_path / "ice")
    res = ConversionController().sync(
        DeltaConversionSource(spark, dbase, name="t"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, idir, table_name="t")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    src = IcebergConversionSource(spark, idir)
    fid = _field_id(src, "logical_id")
    eq = _eq_parquet(
        os.path.join(idir, "eq.parquet"), {"logical_id": pa.array([3, 7], pa.int64())}
    )
    _append_delete_snapshot(spark, idir, [(eq, [fid], {})])
    got = sorted(r["logical_id"] for r in read_iceberg_as_df(spark, idir).collect())
    assert got == [i for i in range(10) if i not in (3, 7)]


# -- r8: equality-delete WRITES (Iceberg -> Iceberg relay) -------------------


def _relay(spark, d, tmp_path, name="relay"):
    """Source-with-eq-deletes -> fresh Iceberg target via the equality
    channel; returns the target dir."""
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    out = str(tmp_path / name)
    src = IcebergConversionSource(
        spark, d, expose_row_deletes=True, expose_equality_deletes=True
    )
    res = ConversionController().sync(
        src, {TableFormat.ICEBERG: IcebergConversionTarget(spark, out, table_name=name)}
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res[
        TableFormat.ICEBERG
    ].error
    return out


def _target_delete_entries(spark, out):
    src = IcebergConversionSource(spark, out)
    meta = src._meta()
    return live_entries(meta, meta["current-snapshot-id"])[1]


def test_relay_preserves_equality_shape_and_rows(spark, tmp_path):
    """Equality deletes in -> equality deletes out: the target carries
    content=2 entries referencing the SAME files with mapped ids, and the
    row view matches the source exactly."""
    d = _make_table(spark, tmp_path)
    src0 = IcebergConversionSource(spark, d)
    fid = _field_id(src0, "id")
    eq = _eq_parquet(
        os.path.join(d, "eqdel-1.parquet"), {"id": pa.array([3, 7, 12], pa.int64())}
    )
    _append_delete_snapshot(spark, d, [(eq, [fid], {})])

    out = _relay(spark, d, tmp_path)
    dels = _target_delete_entries(spark, out)
    eq_entries = [e for e in dels if (e["data_file"].get("content") or 0) == 2]
    assert len(eq_entries) == 1
    e = eq_entries[0]
    assert e["data_file"]["file_path"] == eq  # SAME physical file
    out_src = IcebergConversionSource(spark, out)
    assert e["data_file"]["equality_ids"] == [_field_id(out_src, "id")]

    assert _ids(read_iceberg_as_df(spark, out)) == _ids(read_iceberg_as_df(spark, d))
    assert _ids(read_iceberg_as_df(spark, out)) == [
        i for i in range(20) if i not in (3, 7, 12)
    ]


def test_relay_preserves_strict_sequence_rule(spark, tmp_path):
    """The poisoned case for naive re-sequencing: a data file added AFTER
    the equality delete (higher source seq) contains a matching row; if
    the relay flattened all data to one sequence below the delete's, that
    row would wrongly vanish. It must survive in the target."""
    import glob as _glob
    import shutil as _shutil

    import pyspark.sql.functions as F

    d = _make_table(spark, tmp_path)
    src0 = IcebergConversionSource(spark, d)
    fid = _field_id(src0, "id")
    newfile = os.path.join(d, "upsert-00001.parquet")
    spark.createDataFrame([(3, "NEW")], "id LONG, name STRING").coalesce(1).write.mode(
        "overwrite"
    ).parquet(newfile + ".dir")
    part = _glob.glob(os.path.join(newfile + ".dir", "part-*.parquet"))[0]
    _shutil.move(part, newfile)
    _shutil.rmtree(newfile + ".dir")
    eq = _eq_parquet(os.path.join(d, "eqdel-2.parquet"), {"id": pa.array([3], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], data_files=[(newfile, 1)])

    out = _relay(spark, d, tmp_path)
    df = read_iceberg_as_df(spark, out)
    assert _ids(df) == list(range(20))
    assert df.filter(F.col("id") == 3).select("name").collect()[0][0] == "NEW"


def test_relay_conformance_green_then_red_on_sequence_violation(spark, tmp_path):
    """The relayed table passes conformance (incl. the new content=2
    checks); stripping the equality_ids red-flags ICE_EQ_IDS and bumping
    an entry's sequence past the snapshot's red-flags ICE_EQ_SEQ."""
    from incubator_xtable_spark.model.conformance import check_iceberg_conformance
    from incubator_xtable_spark.targets.iceberg_target import manifest_entry_schema

    d = _make_table(spark, tmp_path)
    src0 = IcebergConversionSource(spark, d)
    fid = _field_id(src0, "id")
    eq = _eq_parquet(os.path.join(d, "eqdel-1.parquet"), {"id": pa.array([3], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq, [fid], {})])
    out = _relay(spark, d, tmp_path)
    report = check_iceberg_conformance(spark, out)
    assert report.passed, report.issues

    # find the delete manifest and corrupt the entry's sequence number
    src = IcebergConversionSource(spark, out)
    meta = src._meta()
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    victim = None
    for mf in read_ocf(snap["manifest-list"])[0]:
        if mf.get("content") == 1:
            victim = mf["manifest_path"]
            break
    assert victim is not None
    records, raw_meta = read_ocf(victim)
    for rec in records:
        df = rec.get("data_file") or {}
        if (df.get("content") or 0) == 2:
            rec["sequence_number"] = int(snap["sequence-number"]) + 100
    schema_json = manifest_entry_schema([])
    write_ocf(
        victim,
        schema_json,
        records,
        extra_meta={
            "schema": raw_meta.get("schema", b"{}").decode("utf-8"),
            "partition-spec": raw_meta.get("partition-spec", b"[]").decode("utf-8"),
            "format-version": "2",
            "content": "deletes",
        },
    )
    report = check_iceberg_conformance(spark, out)
    assert any(i.code == "ICE_EQ_SEQ" for i in report.issues)


def test_relay_incremental_restates_delete_set(spark, tmp_path):
    """Incremental sync after a second delete snapshot: the target's
    equality set restates (both files present) and rows stay in parity."""
    d = _make_table(spark, tmp_path)
    src0 = IcebergConversionSource(spark, d)
    fid = _field_id(src0, "id")
    eq1 = _eq_parquet(os.path.join(d, "eqdel-1.parquet"), {"id": pa.array([3], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq1, [fid], {})], seq=2, snapshot_id=999)

    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    out = str(tmp_path / "relay")
    src = IcebergConversionSource(
        spark, d, expose_row_deletes=True, expose_equality_deletes=True
    )
    tgt = IcebergConversionTarget(spark, out, table_name="relay")
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.ICEBERG: tgt})[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS

    eq2 = _eq_parquet(os.path.join(d, "eqdel-2.parquet"), {"id": pa.array([7], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq2, [fid], {})], seq=3, snapshot_id=998)
    res = ctrl.sync(src, {TableFormat.ICEBERG: tgt})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res[
        TableFormat.ICEBERG
    ].error

    dels = _target_delete_entries(spark, out)
    eq_paths = sorted(
        e["data_file"]["file_path"]
        for e in dels
        if (e["data_file"].get("content") or 0) == 2
    )
    assert eq_paths == sorted([eq1, eq2])
    assert _ids(read_iceberg_as_df(spark, out)) == _ids(read_iceberg_as_df(spark, d))
    assert _ids(read_iceberg_as_df(spark, out)) == [
        i for i in range(20) if i not in (3, 7)
    ]
