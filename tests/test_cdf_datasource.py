"""`spark.readStream.format("delta_cdf")` (streaming/cdf_datasource.py):
a real Structured-Streaming source over Delta CDF — Spark-native
offsets/checkpointing/triggers, pure-python planning, arrow-batch
executor reads. Differentials against the engine's batch CDF read."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import read_delta_cdf
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.streaming.cdf_datasource import DeltaCDFDataSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget, current_log_version


def _register(spark):
    try:
        spark.dataSource.register(DeltaCDFDataSource)
    except Exception:
        pass  # already registered in this session


def _drain(spark, base, cp, name):
    df = spark.readStream.format("delta_cdf").option("path", base).load()
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(f"select * from {name}")


def _mk_table(spark, tmp_path):
    base = str(tmp_path / "t")
    spark.range(0, 6).select(F.col("id").cast("long")).coalesce(1).write.parquet(base)
    src = ParquetConversionSource(spark, base, name="t")
    tgt = DeltaConversionTarget(spark, base)
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.DELTA: tgt})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    return base, src, tgt, ctrl


def test_available_now_stream_equals_batch_cdf(spark, tmp_path):
    base, src, tgt, ctrl = _mk_table(spark, tmp_path)
    spark.range(6, 9).select(F.col("id").cast("long")).coalesce(1).write.mode("append").parquet(base)
    ctrl.sync(src, {TableFormat.DELTA: tgt})

    _register(spark)
    got = _drain(spark, base, str(tmp_path / "cp"), "cdf_eq")
    rows = sorted(
        (r["id"], r["_change_type"], r["_commit_version"]) for r in got.collect()
    )
    want = []
    for v in range(current_log_version(base) + 1):
        want.extend(
            (r["id"], r["_change_type"], v)
            for r in read_delta_cdf(spark, base, v).collect()
        )
    assert rows == sorted(want)
    assert len(rows) == 9 and all(c == "insert" for _, c, _ in rows)


def test_stream_checkpoint_resume_emits_only_new_commits(spark, tmp_path):
    """Restarting against the same checkpoint processes only the commits
    after the recorded offset (a fault-tolerant sink — file sink — is
    required for recovery; memory sink can't recover)."""
    base, src, tgt, ctrl = _mk_table(spark, tmp_path)
    _register(spark)
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")

    def run():
        df = spark.readStream.format("delta_cdf").option("path", base).load()
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    assert spark.read.parquet(out).count() == 6

    spark.range(100, 102).select(F.col("id").cast("long")).coalesce(1).write.mode("append").parquet(base)
    ctrl.sync(src, {TableFormat.DELTA: tgt})
    run()
    rows = sorted((r["id"], r["_change_type"]) for r in spark.read.parquet(out).collect())
    # exactly once: 6 original inserts + ONLY the new commit's 2 rows
    assert len(rows) == 8
    assert [(i, c) for i, c in rows if i >= 100] == [(100, "insert"), (101, "insert")]


def test_stream_emits_dv_deletes_as_row_deletes(spark, tmp_path):
    """A deletion-vector commit streams as row-level deletes — the
    executor-side pure-python DV decode path."""
    import pyarrow as pa

    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource

    from .test_iceberg_equality_deletes import (
        _append_delete_snapshot,
        _eq_parquet,
        _field_id,
        _make_table,
    )

    d = _make_table(spark, tmp_path)
    isrc = IcebergConversionSource(spark, d, expose_row_deletes=True)
    fid = _field_id(isrc, "id")
    delta_dir = str(tmp_path / "as_delta")
    ctrl = ConversionController()
    ctrl.sync(isrc, {TableFormat.DELTA: DeltaConversionTarget(spark, delta_dir)})
    eq = _eq_parquet(os.path.join(d, "e.parquet"), {"id": pa.array([3, 7], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], snapshot_id=999)
    ctrl.sync(isrc, {TableFormat.DELTA: DeltaConversionTarget(spark, delta_dir)})

    _register(spark)
    got = _drain(spark, delta_dir, str(tmp_path / "cp"), "cdf_dv")
    v = current_log_version(delta_dir)
    deletes = sorted(
        r["id"] for r in got.filter(f"_commit_version = {v}").collect()
    )
    types = {r["_change_type"] for r in got.filter(f"_commit_version = {v}").collect()}
    assert deletes == [3, 7] and types == {"delete"}
    # differential vs the engine's batch CDF
    want = sorted(
        (r["id"], r["_change_type"]) for r in read_delta_cdf(spark, delta_dir, v).collect()
    )
    assert want == [(3, "delete"), (7, "delete")]


def test_stream_partitioned_table_attaches_partition_columns(spark, tmp_path):
    from incubator_xtable_spark.model.core import InternalPartitionField

    base = str(tmp_path / "pt")
    (
        spark.range(0, 8)
        .select(F.col("id").cast("long"), (F.col("id") % 2).cast("int").alias("bucket"))
        .repartition(2, "bucket")
        .write.partitionBy("bucket")
        .parquet(base)
    )
    src = ParquetConversionSource(
        spark, base, name="pt", partition_fields=[InternalPartitionField("bucket")]
    )
    ctrl = ConversionController()
    assert (
        ctrl.sync(src, {TableFormat.DELTA: DeltaConversionTarget(spark, base)})[
            TableFormat.DELTA
        ].status
        == SyncStatusCode.SUCCESS
    )
    _register(spark)
    got = _drain(spark, base, str(tmp_path / "cp"), "cdf_part")
    rows = got.select("id", "bucket").collect()
    assert len(rows) == 8
    assert all(r["bucket"] == r["id"] % 2 for r in rows)


def test_stream_starting_version_option(spark, tmp_path):
    base, src, tgt, ctrl = _mk_table(spark, tmp_path)
    spark.range(6, 8).select(F.col("id").cast("long")).coalesce(1).write.mode("append").parquet(base)
    ctrl.sync(src, {TableFormat.DELTA: tgt})
    _register(spark)
    df = (
        spark.readStream.format("delta_cdf")
        .option("path", base)
        .option("startingVersion", "1")
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("cdf_sv")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = sorted(r["id"] for r in spark.sql("select * from cdf_sv").collect())
    assert rows == [6, 7]


def test_py_live_files_add_wins_within_a_version(spark, tmp_path):
    """Self-review r6: within one commit the ADD beats the REMOVE
    regardless of line order (the DV-update shape) — a last-line-wins
    fold would wrongly kill the path when the add is written first. The
    stream plans over the engine's shared live-files fold."""
    import json as _json

    from incubator_xtable_spark.sources.delta_source import live_adds

    base = str(tmp_path / "t")
    log = os.path.join(base, "_delta_log")
    os.makedirs(log)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"metaData": {"id": "t", "schemaString": "{\"type\":\"struct\",\"fields\":[]}", "partitionColumns": [], "configuration": {}}}) + "\n")
        fh.write(_json.dumps({"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}}) + "\n")
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        # ADD first, REMOVE second — the file must stay live
        fh.write(_json.dumps({"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1, "modificationTime": 2, "dataChange": True, "deletionVector": {"storageType": "u", "pathOrInlineDv": "x", "offset": 1, "sizeInBytes": 1, "cardinality": 1}}}) + "\n")
        fh.write(_json.dumps({"remove": {"path": "f1.parquet", "deletionTimestamp": 2, "dataChange": True}}) + "\n")
    live = live_adds(base, 1)
    assert "f1.parquet" in live
    assert (live["f1.parquet"]["deletionVector"] or {}).get("storageType") == "u"


def test_stream_resolves_renamed_columns_and_physical_partitions(spark, tmp_path):
    """Composition: a mode=name table with RENAMED columns (physical !=
    logical, physically-keyed partitionValues) streams with correct
    values — the executor read resolves physicalName and the partition
    attach uses the logical field's type."""
    import pyarrow as pa

    from .test_column_mapping_write import _cm_table

    base = _cm_table(
        tmp_path,
        [("value_col", "col-v1", pa.int64())],
        [[10, 20]],
        part_col=("part_col", "col-p9", 7),
    )
    _register(spark)
    got = _drain(spark, base, str(tmp_path / "cp"), "cdf_cm")
    rows = sorted(
        (r["value_col"], r["part_col"], r["_change_type"]) for r in got.collect()
    )
    assert rows == [(10, 7, "insert"), (20, 7, "insert")]


def test_register_stream_sources_registers_all_four(spark, tmp_path):
    from incubator_xtable_spark.streaming import register_stream_sources

    names = register_stream_sources(spark)
    assert names == ["delta_cdf", "iceberg_cdc", "hudi_cdc", "paimon_changelog"]
    # and they are live in the registry: a delta stream plans fine
    base, *_ = _mk_table(spark, tmp_path)
    got = _drain(spark, base, str(tmp_path / "cp"), "cdf_reg")
    assert got.count() == 6
    # idempotent
    assert register_stream_sources(spark) == names


def test_max_commits_per_trigger_bounded_catch_up(spark, tmp_path):
    """maxCommitsPerTrigger=1 with availableNow bounds each RUN to one
    commit (Spark samples latestOffset once per run): three runs against
    one checkpoint drain the 3-commit backlog one commit at a time."""
    base, src, tgt, ctrl = _mk_table(spark, tmp_path)
    for lo, hi in ((6, 9), (9, 12)):
        spark.range(lo, hi).select(F.col("id").cast("long")).coalesce(1).write.mode(
            "append"
        ).parquet(base)
        ctrl.sync(src, {TableFormat.DELTA: tgt})

    _register(spark)
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("delta_cdf")
            .option("path", base)
            .option("maxCommitsPerTrigger", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return sorted(r["id"] for r in spark.read.parquet(out).collect())

    assert run() == list(range(6))          # run 1: commit 0 only
    assert run() == list(range(9))          # run 2: commit 1
    assert run() == list(range(12))         # run 3: commit 2 -> drained
    assert run() == list(range(12))         # nothing new


def test_starting_timestamp_option(spark, tmp_path):
    """startingTimestamp resolves to the first commit whose commit
    timestamp (`delta_source.commit_timestamps`) is at/after it; the
    engine's commits carry the bound as commitInfo.timestamp, and
    epoch-millis and ISO forms both work."""
    import json as _json
    import time as _time

    base, src, tgt, ctrl = _mk_table(spark, tmp_path)
    spark.range(6, 8).select(F.col("id").cast("long")).coalesce(1).write.mode("append").parquet(base)
    ctrl.sync(src, {TableFormat.DELTA: tgt})
    # commit 1's recorded timestamp is the boundary
    v1 = os.path.join(base, "_delta_log", f"{1:020d}.json")
    ts1 = next(
        _json.loads(l)["commitInfo"]["timestamp"]
        for l in open(v1)
        if '"commitInfo"' in l
    )
    _register(spark)
    df = (
        spark.readStream.format("delta_cdf")
        .option("path", base)
        .option("startingTimestamp", str(ts1))
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("cdf_ts")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = sorted(r["id"] for r in spark.sql("select * from cdf_ts").collect())
    assert rows == [6, 7]
    # a far-future timestamp streams nothing (only future commits)
    future = str(int(_time.time() * 1000) + 10_000_000)
    df2 = (
        spark.readStream.format("delta_cdf")
        .option("path", base)
        .option("startingTimestamp", future)
        .load()
    )
    q2 = (
        df2.writeStream.format("memory")
        .queryName("cdf_ts2")
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert spark.sql("select * from cdf_ts2").count() == 0


def test_starting_timestamp_follows_in_commit_timestamps(spark, tmp_path):
    """A log whose inCommitTimestamp differs from commitInfo.timestamp:
    startingTimestamp resolves by the in-commit timestamp, the same
    commit-timestamp rule timestamp time travel uses."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path / "ict")
    log = os.path.join(base, "_delta_log")
    os.makedirs(log)
    schema = {"type": "struct", "fields": [{"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    # (in-commit timestamp, commitInfo.timestamp): the two orders disagree
    stamps = [(1000, 5000), (2000, 500)]
    for v, (ict, ts) in enumerate(stamps):
        rel = f"f{v}.parquet"
        pq.write_table(pa.table({"id": pa.array([2 * v, 2 * v + 1], pa.int64())}), os.path.join(base, rel))
        actions = [{"commitInfo": {"inCommitTimestamp": ict, "timestamp": ts, "operation": "WRITE"}}]
        if v == 0:
            actions += [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7, "writerFeatures": ["inCommitTimestamp"]}},
                {"metaData": {"id": "ict", "format": {"provider": "parquet", "options": {}},
                              "schemaString": _json.dumps(schema), "partitionColumns": [],
                              "configuration": {"delta.enableInCommitTimestamps": "true"}}},
            ]
        actions.append({"add": {"path": rel, "partitionValues": {}, "size": os.path.getsize(os.path.join(base, rel)),
                                "modificationTime": ict, "dataChange": True}})
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            fh.write("\n".join(_json.dumps(a) for a in actions) + "\n")
    _register(spark)
    df = (
        spark.readStream.format("delta_cdf")
        .option("path", base)
        .option("startingTimestamp", "1500")
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("cdf_ict")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = sorted((r["id"], r["_commit_version"]) for r in spark.sql("select * from cdf_ict").collect())
    assert rows == [(2, 1), (3, 1)]
