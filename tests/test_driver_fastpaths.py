"""Driver-side fast-path tier equality (r14 optimization round).

The small-log live-files replay (`_live_files_rows_local`) and the
`_xt_local_hint` drain shortcut are pure latency optimizations: every
test here pins that the fast tier and the distributed tier produce
IDENTICAL rows and schemas, on tables exercising adds, removes,
same-version remove+re-add (the DV commit shape), partition values and
time travel."""

from __future__ import annotations

import json
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import incubator_xtable_spark.sources.delta_source as DS


def _write_commit(log_dir: str, version: int, actions: list[dict]) -> None:
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w", encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


@pytest.fixture()
def delta_table(tmp_path):
    """A 4-version log: adds, a remove, a same-version remove+re-add with
    a DV (the add must win the tie), and partition values."""
    base = str(tmp_path / "tbl")
    log = os.path.join(base, "_delta_log")
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [{"name": "id", "type": "long", "nullable": True, "metadata": {}}],
        }
    )
    meta = {
        "metaData": {
            "id": "t",
            "name": "t",
            "schemaString": schema_string,
            "partitionColumns": ["p"],
            "configuration": {},
            "createdTime": 1,
            "format": {"provider": "parquet", "options": {}},
        }
    }

    def add(path, pv=None, dv=None, stats=None):
        a = {
            "path": path,
            "partitionValues": pv or {},
            "size": 100,
            "modificationTime": 1,
            "dataChange": True,
        }
        if dv:
            a["deletionVector"] = dv
        if stats:
            a["stats"] = stats
        return {"add": a}

    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}, meta,
                           add("a.parquet", {"p": "1"}, stats='{"numRecords": 3}'),
                           add("b.parquet", {"p": "2"})])
    _write_commit(log, 1, [{"remove": {"path": "b.parquet", "deletionTimestamp": 2, "dataChange": True}},
                           add("c.parquet", {"p": "1"})])
    # the DV commit shape: remove + re-add of the SAME path in one version
    dv = {"storageType": "u", "pathOrInlineDv": "x" * 20, "offset": 1, "sizeInBytes": 42, "cardinality": 1}
    _write_commit(log, 2, [{"remove": {"path": "a.parquet", "deletionTimestamp": 3, "dataChange": False}},
                           add("a.parquet", {"p": "1"}, dv=dv, stats='{"numRecords": 3}')])
    _write_commit(log, 3, [add("d.parquet", {"p": "3"})])
    return base


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda d: d["path"])


def _schema_json(df):
    return [f.jsonValue() for f in df.schema.fields]


def test_live_files_tiers_identical(spark, delta_table):
    for version in (None, 0, 1, 2, 3):
        fast = DS.live_files_df(spark, delta_table, version)
        assert getattr(fast, "_xt_local_hint", False), "small log must take the local tier"
        old = DS._DRIVER_LOG_MAX_BYTES
        DS._DRIVER_LOG_MAX_BYTES = 0
        try:
            slow = DS.live_files_df(spark, delta_table, version)
            assert not getattr(slow, "_xt_local_hint", False)
        finally:
            DS._DRIVER_LOG_MAX_BYTES = old
        assert _schema_json(fast) == _schema_json(slow)
        assert _rows(fast) == _rows(slow), f"tier mismatch at version {version}"


def test_live_files_dv_tie_add_wins(spark, delta_table):
    live = {r["path"]: r.asDict(recursive=True) for r in DS.live_files_df(spark, delta_table).collect()}
    assert set(live) == {"a.parquet", "c.parquet", "d.parquet"}
    # the re-added a.parquet carries its DV (the add won the same-version tie)
    assert live["a.parquet"]["deletionVector"]["cardinality"] == 1


def test_live_files_checkpoint_falls_back(spark, tmp_path, delta_table):
    """A checkpoint in range must route to the distributed reader."""
    DS.write_checkpoint(spark, delta_table, 2)
    assert DS._live_files_rows_local(delta_table, None) is None
    assert DS._live_files_rows_local(delta_table, 2) is None
    # time travel BELOW the checkpoint keeps the local tier (JSON replay)
    assert DS._live_files_rows_local(delta_table, 1) is not None
    # and the public API still answers identically everywhere
    fast = _rows(DS.live_files_df(spark, delta_table, 1))
    old = DS._DRIVER_LOG_MAX_BYTES
    DS._DRIVER_LOG_MAX_BYTES = 0
    try:
        slow = _rows(DS.live_files_df(spark, delta_table, 1))
    finally:
        DS._DRIVER_LOG_MAX_BYTES = old
    assert fast == slow


def test_drain_rows_local_hint_collects_identically(spark):
    from incubator_xtable_spark.model.core import drain_rows

    df = spark.createDataFrame([(i, f"p{i}") for i in range(10)], "n LONG, physical_path STRING")
    plain = sorted(r["physical_path"] for r in drain_rows(df, "auto"))
    df._xt_local_hint = True
    tagged = sorted(r["physical_path"] for r in drain_rows(df, "auto"))
    assert plain == tagged
    # the explicit streaming drain yields the same rows
    streamed = sorted(r["physical_path"] for r in drain_rows(df, True))
    assert streamed == plain


def test_sync_identical_with_fastpath_off(spark, tmp_path):
    """End-to-end: a delta->iceberg DV-relay sync produces a table whose
    read-back rows are identical with the driver fast paths disabled."""
    from incubator_xtable_spark.plans import metadata_queries as MQ
    from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df

    sf = "/root/testdata/sf0.001"
    MQ._DV_STAGE_CACHE.clear()
    work_fast = MQ._staged_dv_table(spark, sf)
    rows_fast = read_iceberg_as_df(spark, work_fast).orderBy("n_nationkey").collect()
    MQ._DV_STAGE_CACHE.clear()
    old = DS._DRIVER_LOG_MAX_BYTES
    DS._DRIVER_LOG_MAX_BYTES = 0
    try:
        work_slow = MQ._staged_dv_table(spark, sf)
        rows_slow = read_iceberg_as_df(spark, work_slow).orderBy("n_nationkey").collect()
    finally:
        DS._DRIVER_LOG_MAX_BYTES = old
        MQ._DV_STAGE_CACHE.clear()
    assert rows_fast == rows_slow


def test_hudi_index_delta_driver_tier_equals_spark_tier(spark, tmp_path, monkeypatch):
    """The driver pyarrow index-delta writer (r15) emits the same
    col-stats and files records as the Spark expression pipeline: build
    the SAME physical table twice (copied files, so part names match)
    and compare both merged index views row-for-row."""
    import shutil
    import time

    from pyspark.sql import functions as F

    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.hudi_metadata import (
        read_col_stats_index,
        read_files_index,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    sf = "/root/testdata/sf0.001"
    stage = str(tmp_path / "stage")
    base = spark.read.parquet(f"{sf}/nation.parquet")
    base.filter(F.col("n_nationkey") >= 5).repartition(3).write.parquet(stage)
    stage2 = str(tmp_path / "stage2")
    base.repartition(2).write.parquet(stage2)

    def build(d):
        def sync():
            res = ConversionController().sync(
                ParquetConversionSource(spark, d, name="nation"),
                {TableFormat.HUDI: HudiConversionTarget(spark, d, table_name="nation")},
            )
            assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS

        shutil.copytree(stage, d)
        sync()  # commit 1: adds
        # commit 2: full rewrite => adds + tombstones for every old file
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.remove(os.path.join(d, f))
        # one shared mtime: the parquet source makes one commit per mtime,
        # so copies straddling a millisecond would split the rewrite into
        # a different number of commits in each build
        now = time.time()
        for f in os.listdir(stage2):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(stage2, f), os.path.join(d, f))
                os.utime(os.path.join(d, f), (now, now))
        sync()

    def norm(rows):
        insts = sorted({r["commit_instant"] for r in rows})
        ordinal = {v: i for i, v in enumerate(insts)}
        return sorted(
            tuple(sorted({**r.asDict(), "commit_instant": ordinal[r["commit_instant"]]}.items()))
            for r in rows
        )

    import incubator_xtable_spark.targets.hudi_target as HT

    build(str(tmp_path / "driver_tier"))
    monkeypatch.setattr(HT, "_DRIVER_INDEX_MAX_FILES", 0)
    build(str(tmp_path / "spark_tier"))
    monkeypatch.undo()

    for reader in (read_col_stats_index, read_files_index):
        fast = norm(reader(spark, str(tmp_path / "driver_tier")).collect())
        slow = norm(reader(spark, str(tmp_path / "spark_tier")).collect())
        assert fast == slow
        assert fast  # non-vacuous
