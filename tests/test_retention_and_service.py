"""Retention maintenance + service facade tests."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncMode, TableFormat
from incubator_xtable_spark.service import ConversionService
from incubator_xtable_spark.sources.delta_source import (
    list_log_versions,
    read_delta_as_df,
    read_last_checkpoint,
)
from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource, read_iceberg_as_df
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.sync.retention import (
    delta_expire_log,
    delta_vacuum,
    hudi_archive_timeline,
    iceberg_expire_snapshots,
)
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.hudi_target import (
    HudiConversionTarget,
    list_completed_instants,
)
from incubator_xtable_spark.targets.iceberg_target import (
    IcebergConversionTarget,
    read_table_metadata,
)

from .conftest import SF_SMOKE


def _grow(spark, d, controller, source, targets, rounds: int):
    base = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    for i in range(rounds):
        base.withColumn("r_regionkey", F.col("r_regionkey") + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(d)
        controller.sync(source, targets)


def test_delta_expire_log_and_vacuum(spark, tmp_path):
    d = str(tmp_path / "ret_delta")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(d)
    source = ParquetConversionSource(spark, d, name="region")
    target = DeltaConversionTarget(spark, d, checkpoint_interval=2)
    controller = ConversionController()
    controller.sync(source, {TableFormat.DELTA: target})
    _grow(spark, d, controller, source, {TableFormat.DELTA: target}, 3)

    assert read_last_checkpoint(d)["version"] == 2
    pruned = delta_expire_log(d)
    assert pruned == [0, 1]
    # head still fully readable from checkpoint + tail
    assert read_delta_as_df(spark, d).count() == 20
    assert list_log_versions(d) == [2, 3]

    # vacuum: nothing is orphaned (all files live)
    assert delta_vacuum(spark, d, dry_run=True) == []


def test_delta_expire_log_at_a_head_checkpoint_keeps_later_commits(spark, tmp_path):
    """Expiring the log behind a checkpoint at the head version keeps
    that version's commit JSON: the next sync commits version 2 (not a
    second version 0), the reader sees its file, and the log conforms."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.conformance import check_delta_conformance
    from incubator_xtable_spark.model.core import SyncStatusCode
    from incubator_xtable_spark.sources.delta_source import write_checkpoint

    d = str(tmp_path / "expire_head")
    os.makedirs(d)

    def add_file(i: int) -> None:
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), os.path.join(d, f"f{i}.parquet"))

    source = ParquetConversionSource(spark, d, name="t")
    targets = {TableFormat.DELTA: DeltaConversionTarget(spark, d)}
    controller = ConversionController()
    add_file(0)
    controller.sync(source, targets)
    add_file(1)
    controller.sync(source, targets)
    assert list_log_versions(d) == [0, 1]
    write_checkpoint(d, 1)
    assert delta_expire_log(d) == [0]

    add_file(2)
    res = controller.sync(source, targets)[TableFormat.DELTA]
    assert res.status == SyncStatusCode.SUCCESS, res.error
    assert res.mode == SyncMode.INCREMENTAL
    assert list_log_versions(d) == [1, 2]
    assert sorted(r.id for r in read_delta_as_df(spark, d).collect()) == [0, 1, 2]
    assert check_delta_conformance(spark, d).passed

def test_iceberg_expire_snapshots_breaks_chain(spark, tmp_path):
    d = str(tmp_path / "ret_ice")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(d)
    source = ParquetConversionSource(spark, d, name="region")
    target = IcebergConversionTarget(spark, d, table_name="region")
    controller = ConversionController()
    controller.sync(source, {TableFormat.ICEBERG: target})
    meta0 = read_table_metadata(d)
    first_snap = meta0["current-snapshot-id"]
    _grow(spark, d, controller, source, {TableFormat.ICEBERG: target}, 2)

    expired = iceberg_expire_snapshots(d, keep_last=1)
    assert first_snap in expired
    meta = read_table_metadata(d)
    assert len(meta["snapshots"]) == 1
    # head read still works; incremental from the expired snapshot is now
    # UNSAFE (broken parent chain) -> controller would fall back to FULL
    assert read_iceberg_as_df(spark, d).count() == 15
    src = IcebergConversionSource(spark, d)
    assert not src.is_incremental_sync_safe_from(str(first_snap))


def test_hudi_archive_keeps_replay_correct(spark, tmp_path):
    d = str(tmp_path / "ret_hudi")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(d)
    source = ParquetConversionSource(spark, d, name="region")
    target = HudiConversionTarget(spark, d, table_name="region")
    controller = ConversionController()
    controller.sync(source, {TableFormat.HUDI: target})
    _grow(spark, d, controller, source, {TableFormat.HUDI: target}, 3)

    before = read_hudi_as_df(spark, d).count()
    archived = hudi_archive_timeline(d, keep_last=2)
    assert len(archived) == 2
    assert len(list_completed_instants(d)) == 2
    assert os.path.exists(os.path.join(d, ".hoodie", "archived", "commits.archive"))
    # snapshot replay still sees files from archived commits
    assert read_hudi_as_df(spark, d).count() == before == 20


def test_conversion_service_contract(spark, tmp_path):
    d = str(tmp_path / "svc_table")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.parquet(d)
    svc = ConversionService(spark)
    resp = svc.convert_table(
        {
            "source-format": "PARQUET",
            "source-table-name": "nation_svc",
            "source-table-path": d,
            "target-formats": ["DELTA", "HUDI", "ICEBERG", "PAIMON"],
        }
    )
    tables = resp["conversions"]
    assert [e["target-format"] for e in tables] == ["DELTA", "HUDI", "ICEBERG", "PAIMON"]
    for e in tables:
        assert e["sync-status"] == "SUCCESS", e
        assert e["target-schema"].startswith("struct<n_nationkey")
        assert os.path.exists(e["target-metadata-path"])
    # second call is incremental and idempotent
    resp2 = svc.convert_table(
        {
            "source-format": "PARQUET",
            "source-table-name": "nation_svc",
            "source-table-path": d,
            "target-formats": ["DELTA"],
        }
    )
    assert resp2["conversions"][0]["sync-mode"] == SyncMode.INCREMENTAL.value


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    """Co-located bucketed tables join WITHOUT a shuffle exchange — the
    repeated-join pattern for 100 TB fact tables."""
    from incubator_xtable_spark.functions.bucketing import (
        bucketed_join_plan_is_shuffle_free,
        write_bucketed,
    )

    # disable broadcast so the join would otherwise require a shuffle
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        write_bucketed(orders, "b_orders", bucket_cols=["o_orderkey"], n_buckets=8)
        write_bucketed(lineitem, "b_lineitem", bucket_cols=["o_orderkey"], n_buckets=8)
        assert bucketed_join_plan_is_shuffle_free(spark, "b_orders", "b_lineitem", "o_orderkey")
        # and the join is still correct
        n = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey").count()
        plain = orders.join(lineitem, "o_orderkey").count()
        assert n == plain > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_validate_target_all_formats(spark, tmp_path):
    from incubator_xtable_spark.model.validation import validate_target

    d = str(tmp_path / "val_table")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(d)
    svc = ConversionService(spark)
    svc.convert_table(
        {
            "source-format": "PARQUET",
            "source-table-path": d,
            "target-formats": ["DELTA", "HUDI", "ICEBERG", "PAIMON"],
        }
    )
    for fmt in ("DELTA", "HUDI", "ICEBERG", "PAIMON"):
        # conformance=True also runs the spec-conformance layer per format
        report = validate_target(spark, d, fmt, expected_rows=5, conformance=True)
        assert report.passed, (fmt, [r for r in report.results if not r.passed])
    # negative: wrong expectation fails the row-count check only
    bad = validate_target(spark, d, "DELTA", expected_rows=999)
    assert not bad.passed
    failed = [r.check.value for r in bad.results if not r.passed]
    assert failed == ["ROW_COUNT_MATCH"]


def test_paimon_expire_snapshots(spark, tmp_path):
    """Expiration keeps head reads intact and flips incremental safety
    below the retained window (the contract the controller's
    full-sync fallback relies on)."""
    from incubator_xtable_spark.sources.paimon_source import (
        PaimonConversionSource,
        read_paimon_as_df,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.retention import paimon_expire_snapshots
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

    d = str(tmp_path / "pexp")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.parquet(d)
    source = ParquetConversionSource(spark, d, name="nation")
    target = PaimonConversionTarget(spark, d, table_name="nation")
    ctrl = ConversionController()
    ctrl.sync(source, {TableFormat.PAIMON: target})
    base_df = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    for i in range(2):
        base_df.withColumn("n_nationkey", F.col("n_nationkey") + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(d)
        ctrl.sync(source, {TableFormat.PAIMON: target})

    src = PaimonConversionSource(spark, d)
    assert src.latest_snapshot_id() == 3
    assert src.is_incremental_sync_safe_from("1")
    expired = paimon_expire_snapshots(d, keep_last=1)
    assert expired == [1, 2]
    assert read_paimon_as_df(spark, d).count() == 75  # head intact
    assert not src.is_incremental_sync_safe_from("1")  # window gone
    assert src.is_incremental_sync_safe_from("3")
