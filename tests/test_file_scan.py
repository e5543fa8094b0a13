"""Reads through `sources/file_scan.scan_files`: the change readers
attach partition values as their snapshot readers do, and a rewrite
applies deletes to files whose paths Spark reports quoted."""

from __future__ import annotations

import dataclasses
import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_xtable_spark.model.core import (
    DataLayoutStrategy,
    InternalPartitionField,
    SyncMode,
    SyncStatusCode,
    TableFormat,
)
from incubator_xtable_spark.sources.delta_source import read_delta_as_df, read_delta_cdf
from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df, read_hudi_cdc
from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df, read_iceberg_cdc
from incubator_xtable_spark.sources.paimon_source import (
    PaimonConversionSource,
    read_paimon_as_df,
    read_paimon_changelog,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget, list_completed_instants
from incubator_xtable_spark.targets.iceberg_target import (
    IcebergConversionTarget,
    read_table_metadata,
)
from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget


def _change_rows(spark, fmt: str, d: str):
    if fmt == "delta":
        return read_delta_cdf(spark, d, 0)
    if fmt == "iceberg":
        return read_iceberg_cdc(spark, d, read_table_metadata(d)["current-snapshot-id"])
    if fmt == "hudi":
        return read_hudi_cdc(spark, d, list_completed_instants(d)[-1][0])
    return read_paimon_changelog(spark, d, PaimonConversionSource(spark, d).latest_snapshot_id())


_TARGETS = {
    "delta": (TableFormat.DELTA, lambda spark, d: DeltaConversionTarget(spark, d), read_delta_as_df),
    "iceberg": (
        TableFormat.ICEBERG,
        lambda spark, d: IcebergConversionTarget(spark, d, table_name="t"),
        read_iceberg_as_df,
    ),
    "hudi": (
        TableFormat.HUDI,
        lambda spark, d: HudiConversionTarget(spark, d, table_name="t"),
        read_hudi_as_df,
    ),
    "paimon": (
        TableFormat.PAIMON,
        lambda spark, d: PaimonConversionTarget(spark, d, table_name="t"),
        read_paimon_as_df,
    ),
}


@pytest.mark.parametrize("fmt", sorted(_TARGETS))
def test_change_reader_partition_values_match_snapshot(spark, tmp_path, fmt):
    """A hive-partitioned parquet directory (the partition column lives
    only in the path) synced FULL: the first commit's change rows carry
    the same partition values as the snapshot read."""
    d = str(tmp_path / "hive")
    for p, ids in ((3, [1, 2]), (7, [11, 12])):
        os.makedirs(os.path.join(d, f"p={p}"))
        path = os.path.join(d, f"p={p}", f"part-{p}.parquet")
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), path)
    table_format, make_target, read_snapshot = _TARGETS[fmt]
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="t", partition_fields=[InternalPartitionField("p")]),
        {table_format: make_target(spark, d)},
    )[table_format]
    assert res.status == SyncStatusCode.SUCCESS, res.error
    assert res.mode == SyncMode.FULL

    def rows(df):
        return sorted((r["id"], r["p"]) for r in df.select("id", "p").collect())

    assert rows(read_snapshot(spark, d)) == [(1, 3), (2, 3), (11, 7), (12, 7)]
    assert rows(_change_rows(spark, fmt, d)) == rows(read_snapshot(spark, d))


@pytest.mark.parametrize("naming", ["per_partition", "same_name"])
@pytest.mark.parametrize("fmt", sorted(_TARGETS))
def test_undeclared_hive_partitions_read_back(spark, tmp_path, fmt, naming):
    """A hive-partitioned parquet directory synced without declaring
    `partition_fields`: the source takes the hive columns the paths name
    as partition fields, so every snapshot reader gives the values Spark
    reads from the paths, also when each partition's file has the same
    name."""
    d = str(tmp_path / "hive")
    for p, ids in ((3, [1, 2]), (7, [11, 12])):
        os.makedirs(os.path.join(d, f"p={p}"))
        name = f"part-{p}.parquet" if naming == "per_partition" else "part-0.parquet"
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), os.path.join(d, f"p={p}", name))
    table_format, make_target, read_snapshot = _TARGETS[fmt]
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="t"), {table_format: make_target(spark, d)}
    )[table_format]
    assert res.status == SyncStatusCode.SUCCESS, res.error
    got = sorted((r["id"], r["p"]) for r in read_snapshot(spark, d).select("id", "p").collect())
    assert got == [(1, 3), (2, 3), (11, 7), (12, 7)]


class _FlatSource(ParquetConversionSource):
    """The parquet source as it converted a hive directory without
    `partition_fields` before it took the paths' hive columns: FLAT, with
    no view tag."""

    sync_view = None

    def _scan(self):
        files, table, footers = super()._scan()
        return files, dataclasses.replace(table, partition_fields=[], layout_strategy=DataLayoutStrategy.FLAT), footers


def test_flat_target_restates_once_with_inferred_partitions(spark, tmp_path):
    """A target synced FLAT from an undeclared hive directory, then
    synced by the source that takes the paths' hive columns as partition
    fields: the source's view tag differs from the bookmark's, so that
    sync restates FULL, and the sync after it is incremental again."""
    d = str(tmp_path / "hive")

    def write(p, ids, mtime):
        os.makedirs(os.path.join(d, f"p={p}"), exist_ok=True)
        path = os.path.join(d, f"p={p}", f"part-{p}.parquet")
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), path)
        os.utime(path, (mtime, mtime))

    def sync(source):
        res = ConversionController().sync(source, {TableFormat.DELTA: DeltaConversionTarget(spark, d)})
        assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error
        return res[TableFormat.DELTA].mode

    now = time.time() - 100
    write(3, [1, 2], now)
    write(7, [11, 12], now)
    assert sync(_FlatSource(spark, d, name="t")) == SyncMode.FULL
    assert ParquetConversionSource(spark, d, name="t").sync_view is not None
    write(9, [21], now + 10)
    assert sync(ParquetConversionSource(spark, d, name="t")) == SyncMode.FULL
    write(5, [31], now + 20)
    assert sync(ParquetConversionSource(spark, d, name="t")) == SyncMode.INCREMENTAL


def test_rewrite_applies_position_deletes_on_escaped_paths(spark, tmp_path):
    """A data file whose path Spark reports URI-quoted (a `%` and a
    space) keeps its position deletes through iceberg_rewrite_data_files:
    the table reads the same rows before and after the rewrite."""
    from incubator_xtable_spark.sources.delta_dv import write_dv_file
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.sync.retention import iceberg_rewrite_data_files

    base = str(tmp_path / "esc")
    log = os.path.join(base, "_delta_log")
    os.makedirs(log)
    files = {"f 1%.parquet": range(0, 10), "f2.parquet": range(10, 20)}
    for rel, ids in files.items():
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), os.path.join(base, rel))
    schema = {
        "type": "struct",
        "fields": [{"name": "id", "type": "long", "nullable": True, "metadata": {}}],
    }
    now = int(time.time() * 1000)

    def add(rel, dv=None):
        action = {
            "path": rel,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(base, rel)),
            "modificationTime": now,
            "dataChange": True,
        }
        if dv is not None:
            action["deletionVector"] = dv
        return {"add": action}

    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "esc", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema), "partitionColumns": [],
                      "configuration": {"delta.enableDeletionVectors": "true"}}},
        add("f 1%.parquet", write_dv_file(base, [2, 3, 7])),
        add("f2.parquet"),
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    res = ConversionController().sync(
        DeltaConversionSource(spark, base, expose_row_deletes=True),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, base, table_name="esc")},
    )[TableFormat.ICEBERG]
    assert res.status == SyncStatusCode.SUCCESS, res.error

    def ids():
        return sorted(r["id"] for r in read_iceberg_as_df(spark, base).select("id").collect())

    before = ids()
    assert before == [i for i in range(20) if i not in (2, 3, 7)]
    out = iceberg_rewrite_data_files(spark, base, target_file_bytes=64 * 1024 * 1024)
    assert out["snapshot_id"] is not None
    assert ids() == before
