"""Iceberg partition-spec EVOLUTION reads (r6): a table that ran
`ALTER TABLE ... ADD PARTITION FIELD` converts with correct partition
values for BOTH manifest generations — each manifest's partition tuple
resolves against ITS OWN spec (manifest-list `partition_spec_id` ->
metadata.json `partition-specs`), unified into the default spec's
representation with nulls where a file predates a field.

This EXCEEDS the reference, which replays every manifest with only the
current spec and silently mis-maps old manifests (ref
IcebergDataFileExtractor.java:174,207). Fixtures hand-evolve a
target-written table exactly like a real writer would: append a new
spec, flip default-spec-id, commit a snapshot whose new manifest is
tagged with the new spec id while the old manifests keep theirs.
"""

from __future__ import annotations

import datetime
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from incubator_xtable_spark.model.avro_codec import read_ocf, write_ocf
from incubator_xtable_spark.model.core import (
    FILE_INVENTORY_ARROW,
    InternalPartitionField,
    InternalTable,
    PartitionTransformType,
    SyncStatusCode,
    TableFormat,
    arrow_table,
)
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.iceberg_source import (
    IcebergConversionSource,
    read_iceberg_as_df,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.iceberg_target import (
    MANIFEST_LIST_SCHEMA,
    IcebergConversionTarget,
    manifest_entry_schema,
    metadata_dir,
    read_table_metadata,
)
from .model_tables import model_rows

_EPOCH = datetime.date(1970, 1, 1)


def _write_file(d: str, name: str, ids: list[int], day: str) -> tuple[str, int]:
    fp = os.path.join(d, name)
    ts = [
        datetime.datetime.fromisoformat(f"{day}T0{i}:00:00") for i in range(len(ids))
    ]
    pq.write_table(
        pa.table(
            {"id": pa.array(ids, pa.int64()), "ts": pa.array(ts, pa.timestamp("us"))}
        ),
        fp,
    )
    return fp, len(ids)


def _identity_partitioned_table(spark, d: str) -> None:
    """Generation 1: identity(region)-partitioned table, two regions."""
    os.makedirs(d, exist_ok=True)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("region", T.StringType(), True),
        ]
    )
    pfs = [
        InternalPartitionField(
            source_field="region",
            transform=PartitionTransformType.VALUE,
            partition_field_name="region",
        )
    ]
    table = InternalTable(
        name="evo",
        table_format=TableFormat.PARQUET,
        base_path=d,
        read_schema=schema,
        partition_fields=pfs,
    )
    f1, n1 = _write_file(d, "gen1_a.parquet", [1, 2, 3], "2024-03-01")
    f2, n2 = _write_file(d, "gen1_b.parquet", [4, 5], "2024-03-02")
    inv = arrow_table(
        [
            (f1, "PARQUET", os.path.getsize(f1), n1, None, {"region": "a"}, None),
            (f2, "PARQUET", os.path.getsize(f2), n2, None, {"region": "b"}, None),
        ],
        FILE_INVENTORY_ARROW,
    )
    target = IcebergConversionTarget(spark, d, table_name="evo")
    target.begin_sync(table)
    target.sync_metadata(TableSyncMetadata(last_instant_synced="1"))
    target.sync_schema(schema)
    target.sync_partition_spec(pfs)
    target.sync_files_for_snapshot(inv)
    target.complete_sync()


def _evolve_add_day_field(spark, d: str, snapshot_id: int = 4242) -> None:
    """Generation 2: ADD PARTITION FIELD days(ts) AS ts_day, then commit
    one file under the NEW spec (region=c, ts_day=2024-03-05)."""
    meta = read_table_metadata(d)
    spec0 = next(
        s
        for s in meta["partition-specs"]
        if s.get("spec-id", 0) == meta.get("default-spec-id", 0)
    )
    schema_fields = next(
        s for s in meta["schemas"] if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
    )["fields"]
    ts_fid = next(f["id"] for f in schema_fields if f["name"] == "ts")
    last_pid = max(
        [f.get("field-id", 999) for f in spec0.get("fields", [])] + [999]
    )
    spec1 = {
        "spec-id": spec0.get("spec-id", 0) + 1,
        "fields": list(spec0.get("fields", []))
        + [
            {
                "name": "ts_day",
                "transform": "day",
                "source-id": ts_fid,
                "field-id": last_pid + 1,
            }
        ],
    }

    day = "2024-03-05"
    day_int = (datetime.date.fromisoformat(day) - _EPOCH).days
    fp, n = _write_file(d, "gen2_c.parquet", [10, 11], day)

    snap_prev = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    seq = int(meta.get("last-sequence-number") or 1) + 1
    entry_schema = manifest_entry_schema([("region", "string"), ("ts_day", "int")])
    manifest = os.path.join(metadata_dir(d), f"evo-m{snapshot_id}.avro")
    mlen = write_ocf(
        manifest,
        entry_schema,
        [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": {"region": "c", "ts_day": day_int},
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(fp),
                },
            }
        ],
        extra_meta={"format-version": "2", "content": "data"},
    )
    old_manifests = read_ocf(snap_prev["manifest-list"])[0]
    new_list = os.path.join(metadata_dir(d), f"snap-{snapshot_id}-evo.avro")
    write_ocf(
        new_list,
        MANIFEST_LIST_SCHEMA,
        old_manifests
        + [
            {
                "manifest_path": manifest,
                "manifest_length": mlen,
                "partition_spec_id": spec1["spec-id"],
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
        extra_meta={"format-version": "2"},
    )
    meta2 = json.loads(json.dumps(meta))
    meta2["partition-specs"].append(spec1)
    meta2["default-spec-id"] = spec1["spec-id"]
    meta2["last-partition-id"] = last_pid + 1
    meta2["last-sequence-number"] = seq
    meta2["current-snapshot-id"] = snapshot_id
    meta2["snapshots"].append(
        {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": snap_prev["snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": snap_prev["timestamp-ms"] + 1,
            "manifest-list": new_list,
            "summary": {"operation": "append"},
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


def _pv_by_path(files) -> dict[str, dict]:
    return {
        os.path.basename(r["physical_path"]): dict(r["partition_values"] or {})
        for r in model_rows(files)
    }


def test_snapshot_resolves_both_spec_generations(spark, tmp_path):
    d = str(tmp_path / "evo")
    _identity_partitioned_table(spark, d)
    _evolve_add_day_field(spark, d)

    src = IcebergConversionSource(spark, d, name="evo")
    table = src.get_current_table()
    assert [pf.output_name for pf in table.partition_fields] == ["region", "ts_day"]
    pv = _pv_by_path(src.get_current_snapshot().files)
    # gen-1 manifests (identity spec): region kept, ts_day null
    assert pv["gen1_a.parquet"] == {"region": "a", "ts_day": None}
    assert pv["gen1_b.parquet"] == {"region": "b", "ts_day": None}
    # gen-2 manifest (evolved spec): both values, day formatted
    assert pv["gen2_c.parquet"] == {"region": "c", "ts_day": "2024-03-05"}

    # row-level read is whole-table correct (identity col re-attached,
    # null for no one)
    rows = sorted(
        (r["id"], r["region"]) for r in read_iceberg_as_df(spark, d).collect()
    )
    assert rows == [
        (1, "a"),
        (2, "a"),
        (3, "a"),
        (4, "b"),
        (5, "b"),
        (10, "c"),
        (11, "c"),
    ]


def test_full_conversion_across_evolution(spark, tmp_path):
    d = str(tmp_path / "evo")
    _identity_partitioned_table(spark, d)
    _evolve_add_day_field(spark, d)

    delta_dir = str(tmp_path / "as_delta")
    res = ConversionController().sync(
        IcebergConversionSource(spark, d, name="evo"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, delta_dir)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[
        TableFormat.DELTA
    ].error
    adds = {}
    log = os.path.join(delta_dir, "_delta_log")
    for fn in sorted(os.listdir(log)):
        if not fn.endswith(".json"):
            continue
        for line in open(os.path.join(log, fn)):
            a = json.loads(line).get("add")
            if a:
                adds[os.path.basename(a["path"])] = a["partitionValues"]
    assert adds["gen1_a.parquet"]["region"] == "a"
    assert adds["gen1_a.parquet"].get("ts_day") is None
    assert adds["gen2_c.parquet"]["region"] == "c"
    assert adds["gen2_c.parquet"]["ts_day"] == "2024-03-05"

    got = sorted((r["id"], r["region"]) for r in read_delta_as_df(spark, delta_dir).collect())
    want = sorted(
        (r["id"], r["region"]) for r in read_iceberg_as_df(spark, d).collect()
    )
    assert got == want


def test_incremental_conversion_across_evolution(spark, tmp_path):
    """Sync gen-1, evolve, then INCREMENTAL sync of the evolved commit:
    the diff's added files carry new-spec values while the target keeps
    old-generation files' values intact."""
    d = str(tmp_path / "evo")
    _identity_partitioned_table(spark, d)
    delta_dir = str(tmp_path / "as_delta")
    ctrl = ConversionController()
    target = DeltaConversionTarget(spark, delta_dir)
    res = ctrl.sync(
        IcebergConversionSource(spark, d, name="evo"), {TableFormat.DELTA: target}
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS

    _evolve_add_day_field(spark, d)
    res = ctrl.sync(
        IcebergConversionSource(spark, d, name="evo"), {TableFormat.DELTA: target}
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[
        TableFormat.DELTA
    ].error

    # prove the second sync was INCREMENTAL: its commit adds ONLY the
    # evolved-spec file, with new-spec partition values
    v1 = os.path.join(delta_dir, "_delta_log", f"{1:020d}.json")
    adds = [
        json.loads(line)["add"]
        for line in open(v1)
        if json.loads(line).get("add")
    ]
    assert [os.path.basename(a["path"]) for a in adds] == ["gen2_c.parquet"]
    assert adds[0]["partitionValues"] == {"region": "c", "ts_day": "2024-03-05"}

    got = sorted((r["id"], r["region"]) for r in read_delta_as_df(spark, delta_dir).collect())
    want = sorted((r["id"], r["region"]) for r in read_iceberg_as_df(spark, d).collect())
    assert got == want
    assert len(got) == 7


def test_unknown_spec_id_still_refuses(spark, tmp_path):
    d = str(tmp_path / "evo")
    _identity_partitioned_table(spark, d)
    _evolve_add_day_field(spark, d)
    meta = read_table_metadata(d)
    meta["partition-specs"] = [s for s in meta["partition-specs"] if s.get("spec-id", 0) != 0]
    v = int(open(os.path.join(metadata_dir(d), "version-hint.text")).read().strip())
    with open(os.path.join(metadata_dir(d), f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="not in metadata.json partition-specs"):
        IcebergConversionSource(spark, d, name="evo").get_current_snapshot()


def test_target_appends_new_spec_on_partition_change(spark, tmp_path):
    """WRITE-side evolution: when the source's partition fields change
    between syncs, the Iceberg target appends a NEW spec (next spec-id,
    field-ids reused by (source-id, transform)) and flips
    default-spec-id — never redefining spec 0 under the old manifests.
    Carried-forward entries land in current-spec manifests with null
    for the added field (the spec's predates-the-field semantics)."""
    d = str(tmp_path / "evo_w")
    os.makedirs(d)
    f1, n1 = _write_file(d, "a.parquet", [1, 2, 3], "2024-03-01")
    f2, n2 = _write_file(d, "b.parquet", [4, 5], "2024-03-02")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("region", T.StringType(), True),
        ]
    )

    def sync(pfs, inv_rows):
        table = InternalTable(
            name="evo_w",
            table_format=TableFormat.PARQUET,
            base_path=d,
            read_schema=schema,
            partition_fields=pfs,
        )
        inv = arrow_table(inv_rows, FILE_INVENTORY_ARROW)
        target = IcebergConversionTarget(spark, d, table_name="evo_w")
        target.begin_sync(table)
        target.sync_metadata(TableSyncMetadata(last_instant_synced="1"))
        target.sync_schema(schema)
        target.sync_partition_spec(pfs)
        target.sync_files_for_snapshot(inv)
        return target.complete_sync()

    pfs1 = [
        InternalPartitionField(
            source_field="region",
            transform=PartitionTransformType.VALUE,
            partition_field_name="region",
        )
    ]
    sync(
        pfs1,
        [
            (f1, "PARQUET", os.path.getsize(f1), n1, None, {"region": "a"}, None),
            (f2, "PARQUET", os.path.getsize(f2), n2, None, {"region": "b"}, None),
        ],
    )

    f3, n3 = _write_file(d, "c.parquet", [10, 11], "2024-03-05")
    pfs2 = pfs1 + [
        InternalPartitionField(
            source_field="ts",
            transform=PartitionTransformType.DAY,
            partition_field_name="ts_day",
        )
    ]
    sync(
        pfs2,
        [
            (f1, "PARQUET", os.path.getsize(f1), n1, None, {"region": "a"}, None),
            (f2, "PARQUET", os.path.getsize(f2), n2, None, {"region": "b"}, None),
            (
                f3,
                "PARQUET",
                os.path.getsize(f3),
                n3,
                None,
                {"region": "c", "ts_day": "2024-03-05"},
                None,
            ),
        ],
    )

    meta = read_table_metadata(d)
    specs = {s["spec-id"]: s for s in meta["partition-specs"]}
    assert sorted(specs) == [0, 1] and meta["default-spec-id"] == 1
    f_by_name = {f["name"]: f for f in specs[1]["fields"]}
    assert f_by_name["region"]["field-id"] == specs[0]["fields"][0]["field-id"]
    assert f_by_name["ts_day"]["field-id"] == meta["last-partition-id"]
    # manifests of the evolved snapshot are tagged with the new spec
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    assert all(
        m["partition_spec_id"] == 1 for m in read_ocf(snap["manifest-list"])[0]
    )

    # and the SOURCE (per-spec resolution) round-trips the values
    src = IcebergConversionSource(spark, d, name="evo_w")
    pv = _pv_by_path(src.get_current_snapshot().files)
    assert pv["a.parquet"] == {"region": "a", "ts_day": None}
    assert pv["c.parquet"] == {"region": "c", "ts_day": "2024-03-05"}
    rows = sorted((r["id"], r["region"]) for r in read_iceberg_as_df(spark, d).collect())
    assert [i for i, _ in rows] == [1, 2, 3, 4, 5, 10, 11]
