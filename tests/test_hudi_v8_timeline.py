"""Hudi 1.0 active-timeline layout (table version 8): instants under
`.hoodie/timeline/` with completion times embedded in completed
filenames (`{requested}_{completion}.{action}`), declared via
hoodie.table.version=8 / hoodie.timeline.path. Restated from public
Hudi 1.0 release notes and docs (no hudi jar on this machine to pin
against — same posture as the secondary-index recipes); the engine's
write and read sides are locked to EACH OTHER by these tests, and a
hand-built foreign-layout fixture pins the read side independently.

Gates: write->read roundtrip + incremental diffs on v8, foreign-fixture
reads, version-mismatch refusal, archival on the v8 dir, red-proven
conformance (completion ordering, version/dir agreement)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from incubator_xtable_spark.model.conformance import check_hudi_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.hudi_source import (
    HudiConversionSource,
    read_hudi_as_df,
    read_properties,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.hudi_target import (
    HudiConversionTarget,
    completion_time_of,
    list_completed_instants,
    read_commit_metadata,
    timeline_dir,
)

from .conftest import SF_SMOKE


@pytest.fixture()
def source_dir(spark, tmp_path):
    d = str(tmp_path / "v8_table")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").repartition(2).write.parquet(d)
    return d


def _sync_v8(spark, d):
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"),
        {
            TableFormat.HUDI: HudiConversionTarget(
                spark, d, table_name="nation", table_version=8
            )
        },
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, res[
        TableFormat.HUDI
    ].error


def test_v8_write_read_roundtrip(spark, source_dir):
    _sync_v8(spark, source_dir)
    tdir = os.path.join(source_dir, ".hoodie", "timeline")
    assert os.path.isdir(tdir) and timeline_dir(source_dir) == tdir
    completed = [f for f in os.listdir(tdir) if f.endswith(".commit")]
    assert len(completed) == 1
    stem = completed[0][: -len(".commit")]
    req, _, comp = stem.partition("_")
    assert req.isdigit() and comp.isdigit() and comp >= req
    props = read_properties(source_dir)
    assert props["hoodie.table.version"] == "8"
    assert props["hoodie.timeline.path"] == "timeline"
    assert props["hoodie.timeline.layout.version"] == "2"

    instants = list_completed_instants(source_dir)
    assert [a for _, a in instants] == ["commit"]
    assert completion_time_of(source_dir, instants[0][0], "commit") == comp
    meta = read_commit_metadata(source_dir, instants[0][0], "commit")
    assert meta["partitionToWriteStats"]

    # full read path: schema + snapshot + rows
    src = HudiConversionSource(spark, source_dir, name="nation")
    snap = src.get_current_snapshot()
    assert snap.files.num_rows == 2
    got = sorted(
        r["n_nationkey"]
        for r in read_hudi_as_df(spark, source_dir).select("n_nationkey").collect()
    )
    assert got == list(range(25))

    report = check_hudi_conformance(source_dir)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_v8_incremental_commits(spark, source_dir):
    _sync_v8(spark, source_dir)
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .withColumn("n_nationkey", F.col("n_nationkey") + 100)
        .coalesce(1)
        .write.mode("append")
        .parquet(source_dir)
    )
    _sync_v8(spark, source_dir)
    instants = list_completed_instants(source_dir)
    assert len(instants) == 2 and instants[0][0] < instants[1][0]
    # per-commit diff through the v8 timeline
    src = HudiConversionSource(spark, source_dir, name="nation")
    change = src.get_table_change_for_commit(instants[1][0])
    assert change.files_added.num_rows == 1
    got = sorted(
        r["n_nationkey"]
        for r in read_hudi_as_df(spark, source_dir).select("n_nationkey").collect()
    )
    assert got == list(range(25)) + list(range(100, 125))
    report = check_hudi_conformance(source_dir)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_foreign_v8_layout_reads(spark, tmp_path):
    """A hand-built table in the 1.0 naming (as a real Hudi 1.0 writer
    would lay it out) is readable — the read side does not depend on
    this engine having written the table."""
    base = str(tmp_path / "foreign_v8")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(base)
    data_file = next(f for f in os.listdir(base) if f.endswith(".parquet"))
    tdir = os.path.join(base, ".hoodie", "timeline")
    os.makedirs(tdir)
    with open(os.path.join(base, ".hoodie", "hoodie.properties"), "w") as fh:
        fh.write(
            "hoodie.table.name=region\nhoodie.table.type=COPY_ON_WRITE\n"
            "hoodie.table.version=8\nhoodie.timeline.layout.version=2\n"
            "hoodie.timeline.path=timeline\nhoodie.populate.meta.fields=false\n"
        )
    instant, completion = "20240101120000000", "20240101120000555"
    open(os.path.join(tdir, f"{instant}.commit.requested"), "w").close()
    open(os.path.join(tdir, f"{instant}.inflight"), "w").close()
    meta = {
        "partitionToWriteStats": {
            "": [
                {
                    "fileId": os.path.splitext(data_file)[0],
                    "path": data_file,
                    "fileSizeInBytes": os.path.getsize(os.path.join(base, data_file)),
                    "numWrites": 5,
                }
            ]
        },
        "extraMetadata": {},
    }
    with open(os.path.join(tdir, f"{instant}_{completion}.commit"), "w") as fh:
        json.dump(meta, fh)

    assert list_completed_instants(base) == [(instant, "commit")]
    assert completion_time_of(base, instant, "commit") == completion
    got = sorted(
        r["r_regionkey"]
        for r in read_hudi_as_df(spark, base).select("r_regionkey").collect()
    )
    assert got == list(range(5))
    report = check_hudi_conformance(base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_version_mismatch_refuses(spark, source_dir):
    # create at v6, then try to continue at v8
    res = ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="nation"),
        {TableFormat.HUDI: HudiConversionTarget(spark, source_dir, table_name="nation")},
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .withColumn("n_nationkey", F.col("n_nationkey") + 100)
        .coalesce(1)
        .write.mode("append")
        .parquet(source_dir)
    )
    res = ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="nation"),
        {
            TableFormat.HUDI: HudiConversionTarget(
                spark, source_dir, table_name="nation", table_version=8
            )
        },
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.ERROR
    assert "hoodie.table.version" in res[TableFormat.HUDI].error.error_message


def test_v8_archival(spark, source_dir):
    from incubator_xtable_spark.sync.retention import hudi_archive_timeline

    _sync_v8(spark, source_dir)
    for shift in (100, 200):
        (
            spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
            .withColumn("n_nationkey", F.col("n_nationkey") + shift)
            .coalesce(1)
            .write.mode("append")
            .parquet(source_dir)
        )
        _sync_v8(spark, source_dir)
    before = list_completed_instants(source_dir)
    assert len(before) == 3
    archived = hudi_archive_timeline(source_dir, keep_last=1)
    assert archived == [i for i, _ in before[:2]]
    tdir = os.path.join(source_dir, ".hoodie", "timeline")
    remaining = [f for f in os.listdir(tdir) if f.endswith(".commit")]
    assert len(remaining) == 1
    # archived instants still replay (file-group view over archive+active)
    got = sorted(
        r["n_nationkey"]
        for r in read_hudi_as_df(spark, source_dir).select("n_nationkey").collect()
    )
    assert got == list(range(25)) + list(range(100, 125)) + list(range(200, 225))


def test_conformance_reds(spark, source_dir):
    _sync_v8(spark, source_dir)
    tdir = os.path.join(source_dir, ".hoodie", "timeline")
    completed = next(f for f in os.listdir(tdir) if f.endswith(".commit"))
    stem = completed[: -len(".commit")]
    req, _, comp = stem.partition("_")

    # completion precedes request
    bad = os.path.join(tdir, f"{req}_{'19990101000000000'}.commit")
    os.rename(os.path.join(tdir, completed), bad)
    codes = {i.code for i in check_hudi_conformance(source_dir).issues}
    assert "HUDI_COMPLETION_ORDER" in codes
    os.rename(bad, os.path.join(tdir, completed))

    # declared version disagrees with the layout
    props_path = os.path.join(source_dir, ".hoodie", "hoodie.properties")
    body = open(props_path).read().replace(
        "hoodie.table.version=8", "hoodie.table.version=6"
    )
    open(props_path, "w").write(body)
    codes = {i.code for i in check_hudi_conformance(source_dir).issues}
    assert "HUDI_TIMELINE_VERSION" in codes
