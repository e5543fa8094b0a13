"""Hudi conversion differential tests — the reference's core scenario:
one source, MULTIPLE targets, row-identical reads through every format
after every sync (ITConversionController.checkDatasetEquivalence)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncMode, SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.hudi_source import (
    HudiConversionSource,
    live_files_rows,
    read_hudi_as_df,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.hudi_target import (
    HudiConversionTarget,
    list_completed_instants,
    read_commit_metadata,
)

from .conftest import SF_SMOKE


def _rows(df, order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


@pytest.fixture()
def source_dir(spark, tmp_path):
    d = str(tmp_path / "multi_table")
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def test_multi_target_equivalence(spark, source_dir):
    """parquet source -> Delta AND Hudi targets in ONE sync; all three
    read paths produce identical rows."""
    source = ParquetConversionSource(spark, source_dir, name="nation")
    targets = {
        TableFormat.DELTA: DeltaConversionTarget(spark, source_dir),
        TableFormat.HUDI: HudiConversionTarget(spark, source_dir, table_name="nation"),
    }
    results = ConversionController().sync(source, targets)
    for fmt, res in results.items():
        assert res.status == SyncStatusCode.SUCCESS, (fmt, res.error)

    order = ["n_nationkey"]
    via_parquet = _rows(spark.read.parquet(source_dir), order)
    via_delta = _rows(read_delta_as_df(spark, source_dir), order)
    via_hudi = _rows(read_hudi_as_df(spark, source_dir), order)
    assert via_parquet == via_delta == via_hudi
    assert len(via_parquet) == 25


def test_hudi_incremental_and_bookmark(spark, source_dir):
    source = ParquetConversionSource(spark, source_dir, name="nation")
    target = HudiConversionTarget(spark, source_dir, table_name="nation")
    controller = ConversionController()
    r1 = controller.sync(source, {TableFormat.HUDI: target})
    assert r1[TableFormat.HUDI].mode == SyncMode.FULL

    extra = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").filter(F.col("n_nationkey") < 5)
    extra.coalesce(1).write.mode("append").parquet(source_dir)

    r2 = controller.sync(source, {TableFormat.HUDI: target})
    assert r2[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, r2[TableFormat.HUDI].error
    assert r2[TableFormat.HUDI].mode == SyncMode.INCREMENTAL

    assert read_hudi_as_df(spark, source_dir).count() == 30
    assert len(list_completed_instants(source_dir)) >= 2

    bm = target.get_table_metadata()
    assert bm is not None and bm.source_table_format == "PARQUET"


def test_hudi_timeline_protocol_shape(spark, source_dir):
    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="nation"),
        {TableFormat.HUDI: HudiConversionTarget(spark, source_dir, table_name="nation")},
    )
    hoodie = os.path.join(source_dir, ".hoodie")
    assert os.path.exists(os.path.join(hoodie, "hoodie.properties"))
    instants = list_completed_instants(source_dir)
    assert len(instants) == 1
    instant, action = instants[0]
    assert action == "commit" and len(instant) == 17
    # lifecycle files exist (requested/inflight)
    assert os.path.exists(os.path.join(hoodie, f"{instant}.commit.requested"))
    # real-Hudi naming: commit-action inflight marker is the bare .inflight
    assert os.path.exists(os.path.join(hoodie, f"{instant}.inflight"))
    meta = read_commit_metadata(source_dir, instant, action)
    stats = [s for lst in meta["partitionToWriteStats"].values() for s in lst]
    assert len(stats) == 3  # three data files
    assert all(s["numWrites"] > 0 and s["fileSizeInBytes"] > 0 for s in stats)


def test_hudi_to_delta_conversion(spark, source_dir, tmp_path):
    """HUDI source -> DELTA target (cross-format both directions)."""
    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="nation"),
        {TableFormat.HUDI: HudiConversionTarget(spark, source_dir, table_name="nation")},
    )
    mirror = str(tmp_path / "delta_mirror")
    os.makedirs(mirror, exist_ok=True)
    hudi_src = HudiConversionSource(spark, source_dir)
    res = ConversionController().sync(
        hudi_src, {TableFormat.DELTA: DeltaConversionTarget(spark, mirror)}
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error
    assert _rows(read_delta_as_df(spark, mirror), ["n_nationkey"]) == _rows(
        read_hudi_as_df(spark, source_dir), ["n_nationkey"]
    )


def test_hudi_replacecommit_time_travel(spark, source_dir):
    """FULL re-sync with changed files -> replacecommit; old instant still
    resolves the old snapshot (file-group time travel)."""
    source = ParquetConversionSource(spark, source_dir, name="nation")
    target = HudiConversionTarget(spark, source_dir, table_name="nation")
    controller = ConversionController()
    controller.sync(source, {TableFormat.HUDI: target})
    v1_instant = list_completed_instants(source_dir)[-1][0]
    v1_rows = len(live_files_rows(source_dir, v1_instant))

    # rewrite the table with different file layout (removes + adds)
    df = spark.read.parquet(source_dir)
    tmp_out = source_dir + "_rewrite"
    df.repartition(2).write.parquet(tmp_out)
    for fn in os.listdir(source_dir):
        if fn.endswith(".parquet"):
            os.unlink(os.path.join(source_dir, fn))
    for fn in os.listdir(tmp_out):
        if fn.endswith(".parquet"):
            os.rename(os.path.join(tmp_out, fn), os.path.join(source_dir, fn))

    # mtime-based incremental can only see additions; deletion detection
    # requires a FULL listing diff (same semantics as the reference's
    # parquet-dir source)
    from incubator_xtable_spark.sync.controller import ConversionConfig

    ConversionController(ConversionConfig(sync_mode=SyncMode.FULL)).sync(
        source, {TableFormat.HUDI: target}
    )
    instants = list_completed_instants(source_dir)
    assert instants[-1][1] == "replacecommit"
    # as-of v1 still sees v1's file groups
    assert len(live_files_rows(source_dir, v1_instant)) == v1_rows
    assert len(live_files_rows(source_dir)) == 2
    assert read_hudi_as_df(spark, source_dir).count() == 25


def test_read_hudi_heterogeneous_partition_storage(spark, tmp_path):
    """A Hudi table whose files DISAGREE about storing the partition
    column in-file (parquet-dir-sourced commit: hive path only;
    Paimon-sourced commit: full row) must read back correctly — the
    footer probe groups files per-schema instead of trusting file #1
    (ADVICE r4)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from incubator_xtable_spark.model.core import (
        FILE_INVENTORY_ARROW,
        InternalPartitionField,
        InternalTable,
        arrow_table,
    )
    from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata

    base = str(tmp_path / "hetero")
    os.makedirs(os.path.join(base, "p=a"))
    os.makedirs(os.path.join(base, "p=b"))
    f1 = os.path.join(base, "p=a", "f1.parquet")
    f2 = os.path.join(base, "p=b", "f2.parquet")
    # f1: partition col only in the path; f2: stored in the file
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), f1)
    pq.write_table(
        pa.table(
            {"id": pa.array([3, 4], pa.int64()), "p": pa.array(["b", "b"], pa.string())}
        ),
        f2,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType(), True), T.StructField("p", T.StringType(), True)]
    )
    table = InternalTable(
        name="hetero",
        table_format=TableFormat.PARQUET,
        base_path=base,
        read_schema=schema,
        partition_fields=[InternalPartitionField(source_field="p")],
    )
    inv = arrow_table(
        [
            (f1, "PARQUET", os.path.getsize(f1), 2, 1, {"p": "a"}, None),
            (f2, "PARQUET", os.path.getsize(f2), 2, 1, {"p": "b"}, None),
        ],
        FILE_INVENTORY_ARROW,
    )
    target = HudiConversionTarget(spark, base, table_name="hetero")
    target.begin_sync(table)
    target.sync_metadata(TableSyncMetadata(last_instant_synced="1"))
    target.sync_schema(schema)
    target.sync_partition_spec(table.partition_fields)
    target.sync_files_for_snapshot(inv)
    target.complete_sync()

    got = _rows(read_hudi_as_df(spark, base), ["id"])
    assert got == [(1, "a"), (2, "a"), (3, "b"), (4, "b")]


def test_same_file_name_in_every_partition_stays_live(spark, tmp_path):
    """A fileId is unique only within its partition: files named alike in
    three partitions are three file groups. All their rows read back, and
    a second FULL sync of the unchanged table replaces nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import InternalPartitionField
    from incubator_xtable_spark.sync.controller import ConversionConfig

    base = str(tmp_path / "same_names")
    for i, k in enumerate("abc"):
        os.makedirs(os.path.join(base, f"k={k}"))
        pq.write_table(
            pa.table({"id": pa.array([i], pa.int64())}), os.path.join(base, f"k={k}", "f.parquet")
        )
    ctrl = ConversionController(ConversionConfig(sync_mode=SyncMode.FULL))
    for _ in range(2):
        res = ctrl.sync(
            ParquetConversionSource(spark, base, partition_fields=[InternalPartitionField("k")]),
            {TableFormat.HUDI: HudiConversionTarget(spark, base, table_name="t")},
        )
        assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, res[TableFormat.HUDI].error
    assert _rows(read_hudi_as_df(spark, base), ["id"]) == [(0, "a"), (1, "b"), (2, "c")]
    assert [action for _, action in list_completed_instants(base)] == ["commit", "commit"]
