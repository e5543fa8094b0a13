"""End-to-end: a days()/bucket-partitioned ICEBERG source converts to
Delta with correct generated-column partition values (ref
DeltaPartitionExtractor.java:71-88 write shape; completes the r4
spec-native manifest work in the read direction — manifests hold int
days-since-epoch, Delta must land formatted date strings)."""

from __future__ import annotations

import datetime
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from incubator_xtable_spark.model.core import (
    FILE_INVENTORY_ARROW,
    InternalPartitionField,
    InternalTable,
    PartitionTransformType,
    SyncStatusCode,
    TableFormat,
    arrow_table,
)
from incubator_xtable_spark.model.iceberg_manifests import live_entries
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.iceberg_source import (
    IcebergConversionSource,
    read_iceberg_as_df,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget


@pytest.fixture()
def day_partitioned_iceberg(spark, tmp_path):
    """Iceberg table partitioned by days(ts): two files, two days."""
    d = str(tmp_path / "ice_days")
    os.makedirs(d)
    files = []
    for day, ids in (("2024-03-01", [1, 2, 3]), ("2024-03-02", [4, 5])):
        fp = os.path.join(d, f"data_{day}.parquet")
        ts = [
            datetime.datetime.fromisoformat(f"{day}T0{i}:00:00")
            for i in range(len(ids))
        ]
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "ts": pa.array(ts, pa.timestamp("us")),
                }
            ),
            fp,
        )
        files.append((fp, day, len(ids)))

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("ts", T.TimestampNTZType(), True),
        ]
    )
    pfs = [
        InternalPartitionField(
            source_field="ts",
            transform=PartitionTransformType.DAY,
            partition_field_name="ts_day",
        )
    ]
    table = InternalTable(
        name="ice_days",
        table_format=TableFormat.PARQUET,
        base_path=d,
        read_schema=schema,
        partition_fields=pfs,
    )
    inv = arrow_table(
        [
            (fp, "PARQUET", os.path.getsize(fp), n, None, {"ts_day": day}, None)
            for fp, day, n in files
        ],
        FILE_INVENTORY_ARROW,
    )
    target = IcebergConversionTarget(spark, d, table_name="ice_days")
    target.begin_sync(table)
    target.sync_metadata(TableSyncMetadata(last_instant_synced="1"))
    target.sync_schema(schema)
    target.sync_partition_spec(pfs)
    target.sync_files_for_snapshot(inv)
    target.complete_sync()
    return d


def test_day_partitioned_iceberg_to_delta(spark, day_partitioned_iceberg):
    d = day_partitioned_iceberg
    src = IcebergConversionSource(spark, d, name="ice_days")

    # the manifest stores spec-native ints; the conversion must land
    # formatted strings in Delta
    meta = src._meta()
    entries = live_entries(meta, meta["current-snapshot-id"])[0]
    assert sorted(e["data_file"]["partition"]["ts_day"] for e in entries) == [19783, 19784]

    res = ConversionController().sync(
        src, {TableFormat.DELTA: DeltaConversionTarget(spark, d)}
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error

    # delta log: generated column present with DAY generation expression,
    # adds carry the formatted date values
    log0 = os.path.join(d, "_delta_log", f"{0:020d}.json")
    adds, meta_action = [], None
    for line in open(log0):
        a = json.loads(line)
        if "add" in a:
            adds.append(a["add"])
        if "metaData" in a:
            meta_action = a["metaData"]
    assert meta_action["partitionColumns"] == ["ts_day"]
    schema_fields = {f["name"]: f for f in json.loads(meta_action["schemaString"])["fields"]}
    gen = schema_fields["ts_day"]["metadata"]["delta.generationExpression"]
    assert "ts" in gen and ("yyyy-MM-dd" in gen or "DATE" in gen.upper())
    assert sorted(a["partitionValues"]["ts_day"] for a in adds) == [
        "2024-03-01",
        "2024-03-02",
    ]

    # read parity through both formats
    ice = sorted(tuple(r) for r in read_iceberg_as_df(spark, d).select("id", "ts").collect())
    dl = sorted(tuple(r) for r in read_delta_as_df(spark, d).select("id", "ts").collect())
    assert ice == dl and len(dl) == 5


def test_day_partition_values_survive_incremental(spark, day_partitioned_iceberg):
    """An appended Iceberg commit flows through the incremental path with
    the same spec-native -> string conversion."""
    d = day_partitioned_iceberg
    ctrl = ConversionController()
    res = ctrl.sync(
        IcebergConversionSource(spark, d, name="ice_days"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS

    # append a third day via the Iceberg target diff path
    fp = os.path.join(d, "data_2024-03-05.parquet")
    ts = [datetime.datetime.fromisoformat("2024-03-05T09:00:00")]
    pq.write_table(
        pa.table({"id": pa.array([9], pa.int64()), "ts": pa.array(ts, pa.timestamp("us"))}),
        fp,
    )
    src0 = IcebergConversionSource(spark, d, name="ice_days")
    table = src0.get_current_table()
    inv = arrow_table(
        [(fp, "PARQUET", os.path.getsize(fp), 1, None, {"ts_day": "2024-03-05"}, None)],
        FILE_INVENTORY_ARROW,
    )
    tgt = IcebergConversionTarget(spark, d, table_name="ice_days")
    tgt.begin_sync(table)
    tgt.sync_metadata(TableSyncMetadata(last_instant_synced="2"))
    tgt.sync_schema(table.read_schema)
    tgt.sync_partition_spec(table.partition_fields)
    from incubator_xtable_spark.model.core import TableChange

    empty = arrow_table([], FILE_INVENTORY_ARROW)
    tgt.sync_files_for_diff(
        TableChange(table=table, commit_id="2", files_added=inv, files_removed=empty)
    )
    tgt.complete_sync()

    res = ctrl.sync(
        IcebergConversionSource(spark, d, name="ice_days"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error

    import glob as _glob

    latest = sorted(_glob.glob(os.path.join(d, "_delta_log", "*.json")))[-1]
    new_adds = [json.loads(l)["add"] for l in open(latest) if "add" in json.loads(l)]
    assert any(a["partitionValues"].get("ts_day") == "2024-03-05" for a in new_adds)
    assert read_delta_as_df(spark, d).count() == 6
