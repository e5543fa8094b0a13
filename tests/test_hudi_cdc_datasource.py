"""`spark.readStream.format("hudi_cdc")`
(streaming/hudi_cdc_datasource.py): timeline-instant offsets, pure-python
CDC block decode executor-side, insert-only derivation, loud refusal for
unlogged rewrites. Differentials against read_hudi_cdc."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.hudi_source import HudiConversionSource, read_hudi_cdc
from incubator_xtable_spark.streaming.hudi_cdc_datasource import HudiCDCDataSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.hudi_target import (
    HudiConversionTarget,
    list_completed_instants,
)

from .hudi_logtable import avro_data_block, delete_block
from .test_hudi_log_merge import AVRO_SCHEMA, _add_log, mor_base  # noqa: F401


def _register(spark):
    try:
        spark.dataSource.register(HudiCDCDataSource)
    except Exception:
        pass


def _drain(spark, base, cp, name):
    q = (
        spark.readStream.format("hudi_cdc")
        .option("path", base)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(f"select * from {name}")


def test_stream_equals_batch_over_cdc_relay(spark, tmp_path, mor_base):
    """Hudi MOR source (upsert+insert+delete) relayed into a
    change_feed Hudi target; streaming the TARGET reproduces
    read_hudi_cdc per instant."""
    src = HudiConversionSource(spark, mor_base, view="snapshot", emit_row_changes=True)
    hudi_dir = str(tmp_path / "as_hudi")
    target = HudiConversionTarget(spark, hudi_dir, table_name="relay", change_feed=True)
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.HUDI: target})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [
            avro_data_block(
                spark,
                "20240101000002000",
                AVRO_SCHEMA,
                [{"id": 2, "v": "updated"}, {"id": 10, "v": "new"}],
            ),
            delete_block(spark, "20240101000002000", ["0"]),
        ],
    )
    assert ctrl.sync(src, {TableFormat.HUDI: target})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS

    _register(spark)
    got = _drain(spark, hudi_dir, str(tmp_path / "cp"), "hudi_cdc_eq")
    rows = sorted(
        (r["id"], r["v"], r["_change_type"], r["_commit_instant"])
        for r in got.collect()
    )
    want = []
    for instant, _action in list_completed_instants(hudi_dir):
        want.extend(
            (r["id"], r["v"], r["_change_type"], instant)
            for r in read_hudi_cdc(spark, hudi_dir, instant).collect()
        )
    assert rows == sorted(want)
    types = {c for _, _, c, _ in rows}
    assert {"insert", "delete", "update_preimage", "update_postimage"} <= types


def test_insert_only_commits_stream_without_cdc_files(spark, tmp_path):
    base = str(tmp_path / "t")
    spark.range(0, 5).select(F.col("id").cast("long")).coalesce(1).write.parquet(base)
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    src = ParquetConversionSource(spark, base, name="t")
    target = HudiConversionTarget(spark, base, table_name="t")
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.HUDI: target})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    spark.range(5, 8).select(F.col("id").cast("long")).coalesce(1).write.mode("append").parquet(base)
    assert ctrl.sync(src, {TableFormat.HUDI: target})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS

    _register(spark)
    got = _drain(spark, base, str(tmp_path / "cp"), "hudi_cdc_ins")
    rows = sorted((r["id"], r["_change_type"]) for r in got.collect())
    assert rows == [(i, "insert") for i in range(8)]
    instants = sorted({r["_commit_instant"] for r in got.collect()})
    assert len(instants) == 2


def test_unlogged_rewrite_refused_loudly(spark, tmp_path, mor_base):
    """MOR deltacommits (log-merged state) without cdcStats cannot be
    derived per file — loud error naming the escape hatches."""
    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [avro_data_block(spark, "20240101000002000", AVRO_SCHEMA, [{"id": 2, "v": "u"}])],
    )
    _register(spark)
    q = (
        spark.readStream.format("hudi_cdc")
        .option("path", mor_base)
        .load()
        .writeStream.format("memory")
        .queryName("hudi_cdc_refuse")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="without CDC logging"):
        q.awaitTermination(300)
        raise RuntimeError(str(q.exception()))


def test_upsert_rewrite_commit_refused(spark, tmp_path):
    """Self-review r6: a COW upsert commit (prevCommit names the
    rewritten base / numUpdateWrites > 0) is NOT all-inserts — planning
    must refuse it, not derive wrong inserts."""
    import json

    from incubator_xtable_spark.streaming.change_feed import plan_commit

    base = str(tmp_path / "t")
    os.makedirs(os.path.join(base, ".hoodie"))
    meta = {
        "partitionToWriteStats": {
            "": [
                {
                    "fileId": "g1",
                    "path": "g1_0-0-1_002.parquet",
                    "prevCommit": "001",
                    "numWrites": 10,
                    "numUpdateWrites": 3,
                    "fileSizeInBytes": 1,
                }
            ]
        },
        "operationType": "UPSERT",
    }
    with open(os.path.join(base, ".hoodie", "002.commit"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="without CDC logging"):
        plan_commit("hudi_cdc", base, "002")


def test_stream_schema_keeps_commit_meta_fields(spark, tmp_path):
    """The stream's columns are the newest commit's schema as written,
    `_hoodie_*` meta fields included (the batch reader's table schema
    drops them); a base file that stores one streams its values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    base = str(tmp_path / "t")
    os.makedirs(base)
    pq.write_table(
        pa.table({"_hoodie_commit_time": ["c1", "c1"], "id": pa.array([1, 2], pa.int64())}),
        os.path.join(base, "f.parquet"),
    )
    target = HudiConversionTarget(spark, base, table_name="t")
    res = ConversionController().sync(ParquetConversionSource(spark, base, name="t"), {TableFormat.HUDI: target})
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    assert HudiCDCDataSource({"path": base}).schema().names == [
        "_hoodie_commit_time",
        "id",
        "_change_type",
        "_commit_instant",
    ]
    _register(spark)
    got = _drain(spark, base, str(tmp_path / "cp"), "hudi_cdc_meta")
    assert sorted((r["_hoodie_commit_time"], r["id"], r["_change_type"]) for r in got.collect()) == [
        ("c1", 1, "insert"),
        ("c1", 2, "insert"),
    ]
    (instant, _), = list_completed_instants(base)
    assert "_hoodie_commit_time" not in read_hudi_cdc(spark, base, instant).columns
