"""writeStream delta_sink (streaming/delta_sink.py): real Delta commits
per micro-batch with exactly-once SetTransaction idempotence — write,
restart, full-replay, checkpoint-survival, schema refusal, and
conversion interop over a sink-written table."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pytest

from pyspark.sql import functions as F

from incubator_xtable_spark.sources.delta_source import (
    latest_actions,
    list_log_versions,
    read_delta_as_df,
    write_checkpoint,
)
from incubator_xtable_spark.streaming import register_stream_sinks

TS0 = "2024-01-01 00:00:00"


def _write_batch_file(spark, in_dir: str, rows: list[tuple], name: str, mtime: float):
    df = spark.createDataFrame(rows, "doc_id LONG, ts STRING, text STRING").selectExpr(
        "doc_id", "CAST(ts AS TIMESTAMP) ts", "text"
    )
    d = os.path.join(in_dir, name + ".dir")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
    dest = os.path.join(in_dir, name + ".parquet")
    shutil.move(part, dest)
    shutil.rmtree(d)
    os.utime(dest, (mtime, mtime))


def _run_sink(spark, in_dir: str, tbl: str, ckpt: str, **opts):
    register_stream_sinks(spark)
    stream = (
        spark.readStream.schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    w = stream.writeStream.format("delta_sink").option("path", tbl)
    for k, v in opts.items():
        w = w.option(k, v)
    q = w.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    q.awaitTermination(180)


@pytest.fixture()
def dirs(tmp_path):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    return in_dir, str(tmp_path / "table"), str(tmp_path / "ck")


def test_sink_commits_batches_and_reads_back(spark, dirs):
    in_dir, tbl, ckpt = dirs
    now = time.time()
    _write_batch_file(spark, in_dir, [(1, TS0, "aaa"), (2, TS0, "bbb")], "b1", now - 100)
    _write_batch_file(spark, in_dir, [(3, TS0, "ccc")], "b2", now - 50)
    _run_sink(spark, in_dir, tbl, ckpt)

    assert list_log_versions(tbl) == [0, 1]  # one commit per micro-batch
    got = sorted(
        (r["doc_id"], r["text"]) for r in read_delta_as_df(spark, tbl).collect()
    )
    assert got == [(1, "aaa"), (2, "bbb"), (3, "ccc")]
    # SetTransaction watermark = last batchId
    (tx,) = list(latest_actions(tbl, "txn", "appId").values())
    assert tx["version"] == 1 and tx["appId"].startswith("delta_sink:")
    # add actions carry stats a pruner can use
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json")) as fh:
        adds = [json.loads(l)["add"] for l in fh if '"add"' in l]
    stats = json.loads(adds[0]["stats"])
    assert stats["numRecords"] == 2
    assert stats["minValues"]["doc_id"] == 1 and stats["maxValues"]["doc_id"] == 2
    # the sink writes a SPEC-conformant table
    from incubator_xtable_spark.model.conformance import check_delta_conformance

    report = check_delta_conformance(spark, tbl)
    assert report.passed, [r for r in report.issues]


def test_sink_restart_appends_exactly_once_and_replay_is_noop(spark, dirs):
    in_dir, tbl, ckpt = dirs
    now = time.time()
    _write_batch_file(spark, in_dir, [(1, TS0, "aaa")], "b1", now - 100)
    _run_sink(spark, in_dir, tbl, ckpt)
    # restart with the SAME checkpoint + one new file: exactly one new commit
    _write_batch_file(spark, in_dir, [(2, TS0, "bbb")], "b2", now - 50)
    _run_sink(spark, in_dir, tbl, ckpt)
    assert list_log_versions(tbl) == [0, 1]
    assert read_delta_as_df(spark, tbl).count() == 2

    # lose the QUERY checkpoint entirely: every batch replays under the
    # same appId — the txn watermark must skip them all, committing
    # nothing and leaving no orphan data files behind
    shutil.rmtree(ckpt)
    before_files = set(glob.glob(os.path.join(tbl, "part-*.parquet")))
    _run_sink(spark, in_dir, tbl, ckpt)
    assert list_log_versions(tbl) == [0, 1]
    assert read_delta_as_df(spark, tbl).count() == 2
    assert set(glob.glob(os.path.join(tbl, "part-*.parquet"))) == before_files


def test_sink_txn_watermark_survives_checkpoint_and_log_expiry(spark, dirs):
    in_dir, tbl, ckpt = dirs
    from incubator_xtable_spark.sync.retention import delta_expire_log

    now = time.time()
    _write_batch_file(spark, in_dir, [(1, TS0, "aaa")], "b1", now - 100)
    _write_batch_file(spark, in_dir, [(2, TS0, "bbb")], "b2", now - 50)
    _run_sink(spark, in_dir, tbl, ckpt)
    # checkpoint the table, then expire the pre-checkpoint JSON commits:
    # the txn watermark must survive INSIDE the checkpoint (spec
    # "Transaction Identifiers" — checkpoints carry latest txn per appId)
    write_checkpoint(tbl, 1)
    assert delta_expire_log(tbl) == [0]
    (tx,) = list(latest_actions(tbl, "txn", "appId").values())
    assert tx["version"] == 1
    # replay from scratch: still a no-op even with the JSON tail gone
    shutil.rmtree(ckpt)
    _run_sink(spark, in_dir, tbl, ckpt)
    assert read_delta_as_df(spark, tbl).count() == 2
    assert list_log_versions(tbl) == [1]  # no new commit appeared


def test_sink_refuses_schema_drift(spark, dirs):
    in_dir, tbl, ckpt = dirs
    now = time.time()
    _write_batch_file(spark, in_dir, [(1, TS0, "aaa")], "b1", now - 100)
    _run_sink(spark, in_dir, tbl, ckpt)
    # a second query writes a DIFFERENT schema to the same table
    drifted_dir = in_dir + "_drift"
    os.makedirs(drifted_dir)
    spark.createDataFrame([(1, "x", 1.5)], "doc_id LONG, text STRING, score DOUBLE").write.parquet(
        os.path.join(drifted_dir, "d1.dir")
    )
    register_stream_sinks(spark)
    stream = spark.readStream.schema("doc_id LONG, text STRING, score DOUBLE").parquet(
        os.path.join(drifted_dir, "d1.dir")
    )
    q = (
        stream.writeStream.format("delta_sink")
        .option("path", tbl)
        # a distinct query MUST carry its own appId (the documented
        # multi-writer contract) — with the default it would share the
        # first query's watermark and batch 0 would skip as a replay
        .option("txnAppId", "drift-query")
        .option("checkpointLocation", ckpt + "_drift")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="schema"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    # the failed batch left no commit and no stray files behind (abort)
    assert list_log_versions(tbl) == [0]
    assert read_delta_as_df(spark, tbl).count() == 1


def test_sink_written_table_converts_to_iceberg(spark, dirs, tmp_path):
    """The sink's commits are REAL Delta: the conversion engine reads the
    table like any other Delta source and mirrors it to Iceberg with row
    parity."""
    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    in_dir, tbl, ckpt = dirs
    now = time.time()
    _write_batch_file(spark, in_dir, [(1, TS0, "aaa"), (2, TS0, "bbb")], "b1", now - 100)
    _write_batch_file(spark, in_dir, [(3, TS0, "ccc")], "b2", now - 50)
    _run_sink(spark, in_dir, tbl, ckpt)

    mirror = str(tmp_path / "ice_mirror")
    os.makedirs(mirror)
    res = ConversionController().sync(
        DeltaConversionSource(spark, tbl),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, mirror, table_name="t")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, (
        res[TableFormat.ICEBERG].error
    )
    a = sorted(map(tuple, read_delta_as_df(spark, tbl).collect()))
    b = sorted(map(tuple, read_iceberg_as_df(spark, mirror).collect()))
    assert a == b and len(a) == 3
