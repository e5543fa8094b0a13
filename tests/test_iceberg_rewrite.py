"""iceberg_rewrite_data_files (sync/retention.py): small-file
compaction as a `replace` snapshot — carried entries stay EXISTING,
applicable deletes are applied and dropped, CDC consumers skip the
snapshot, time travel keeps the old layout, conformance stays green,
v3 row-lineage tables refuse."""

from __future__ import annotations

import pytest

from incubator_xtable_spark.model.conformance import check_iceberg_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.model.iceberg_manifests import live_entries
from incubator_xtable_spark.sources.iceberg_source import (
    IcebergConversionSource,
    read_iceberg_as_df,
    read_iceberg_cdc,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.sync.retention import iceberg_rewrite_data_files
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

from .conftest import SF_SMOKE


def _make_iceberg(spark, tmp_path, n_files=4, **tgt_kw) -> str:
    d = str(tmp_path / "ice_opt")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").repartition(n_files).write.parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, d, table_name="nation", **tgt_kw)},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    return d


def _keys(df, col="n_nationkey"):
    return sorted(r[col] for r in df.select(col).collect())


def test_rewrite_compacts_preserves_rows_and_is_replace(spark, tmp_path):
    d = _make_iceberg(spark, tmp_path, n_files=4)
    src = IcebergConversionSource(spark, d)
    meta = src._meta()
    old_sid = meta["current-snapshot-id"]
    before = _keys(read_iceberg_as_df(spark, d))
    assert len(live_entries(meta, old_sid)[0]) == 4

    out = iceberg_rewrite_data_files(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert out["snapshot_id"] is not None
    assert len(out["removed"]) == 4 and len(out["added"]) == 1

    meta2 = src._meta()
    snap = next(
        s for s in meta2["snapshots"] if s["snapshot-id"] == out["snapshot_id"]
    )
    assert snap["summary"]["operation"] == "replace"
    assert len(live_entries(meta2, out["snapshot_id"])[0]) == 1
    assert _keys(read_iceberg_as_df(spark, d)) == before
    # time travel: pre-rewrite snapshot still reads the old layout
    assert len(live_entries(meta2, old_sid)[0]) == 4
    assert _keys(read_iceberg_as_df(spark, d, snapshot_id=old_sid)) == before

    # CDC consumers skip replace snapshots
    assert read_iceberg_cdc(spark, d, out["snapshot_id"]).count() == 0
    from incubator_xtable_spark.sources.iceberg_source import plan_changes

    assert plan_changes(d, out["snapshot_id"]).files == []

    report = check_iceberg_conformance(spark, d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_rewrite_applies_position_deletes(spark, tmp_path):
    from .test_row_delete_conversion import _base_table, _dv_commit

    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource

    res = ConversionController().sync(
        DeltaConversionSource(spark, base, expose_row_deletes=True),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, base, table_name="dv")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    src = IcebergConversionSource(spark, base)
    meta = src._meta()
    assert live_entries(meta, meta["current-snapshot-id"])[1]
    expected = sorted(i for i in range(20) if i not in (2, 3, 7))

    out = iceberg_rewrite_data_files(spark, base, target_file_bytes=64 * 1024 * 1024)
    assert out["snapshot_id"] is not None
    meta2 = src._meta()
    # deletes applied: no delete entries survive, rows are exact
    assert live_entries(meta2, out["snapshot_id"])[1] == []
    got = sorted(r["id"] for r in read_iceberg_as_df(spark, base).select("id").collect())
    assert got == expected
    report = check_iceberg_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_rewrite_refuses_v3_row_lineage(spark, tmp_path):
    d = _make_iceberg(spark, tmp_path, n_files=2, format_version=3)
    with pytest.raises(NotImplementedError, match="row lineage"):
        iceberg_rewrite_data_files(spark, d)


def test_rewrite_noop_when_big_enough(spark, tmp_path):
    d = _make_iceberg(spark, tmp_path, n_files=2)
    out = iceberg_rewrite_data_files(spark, d, target_file_bytes=64, min_file_bytes=1)
    assert out == {"removed": [], "added": [], "snapshot_id": None}


def test_rewrite_partitioned_table_bins_per_partition(spark, tmp_path):
    """Partitioned tables bin WITHIN each partition; new entries keep
    their partition tuple so partition pruning still works."""
    from pyspark.sql import functions as F

    from incubator_xtable_spark.model.core import InternalPartitionField

    d = str(tmp_path / "ice_part")
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .withColumn("region", F.concat(F.lit("r"), F.col("n_regionkey")))
        .repartition(2)
        .write.partitionBy("region")
        .parquet(d)
    )
    res = ConversionController().sync(
        ParquetConversionSource(
            spark, d, name="nation",
            partition_fields=[InternalPartitionField(source_field="region")],
        ),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, d, table_name="nation")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    src = IcebergConversionSource(spark, d)
    meta = src._meta()
    entries = live_entries(meta, meta["current-snapshot-id"])[0]
    parts_before = {e["data_file"]["partition"].get("region") for e in entries}
    assert len(entries) > len(parts_before)
    before = sorted(
        (r["n_nationkey"], r["region"])
        for r in read_iceberg_as_df(spark, d).select("n_nationkey", "region").collect()
    )

    out = iceberg_rewrite_data_files(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert out["snapshot_id"] is not None
    meta2 = src._meta()
    entries2 = live_entries(meta2, out["snapshot_id"])[0]
    assert len(entries2) == len(parts_before)  # one file per partition
    assert {e["data_file"]["partition"].get("region") for e in entries2} == parts_before
    after = sorted(
        (r["n_nationkey"], r["region"])
        for r in read_iceberg_as_df(spark, d).select("n_nationkey", "region").collect()
    )
    assert after == before
    report = check_iceberg_conformance(spark, d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]
