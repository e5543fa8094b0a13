"""Hudi metadata-table `files` index: the per-commit LITE listing deltas
the target writes.

Reference parity: the write client maintains the full metadata table
(ref hudi/HudiConversionTarget.java:267-470). Differential gate: the
merged index listing, read here with pyarrow (the engine itself no
longer reads LITE deltas), must EQUAL the fs-view (timeline-replay)
listing on a multi-commit table, including through replacements.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.hudi_metadata import (
    FILES_PARTITION,
    METADATA_PARTITIONS_KEY,
    files_dir,
)
from incubator_xtable_spark.sources.hudi_source import (
    live_files_rows,
    read_properties,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

from .conftest import SF_SMOKE


@pytest.fixture()
def source_dir(spark, tmp_path):
    d = str(tmp_path / "files_idx")
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def _sync(spark, d, target=None):
    target = target or HudiConversionTarget(spark, d, table_name="nation")
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"), {TableFormat.HUDI: target}
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, res[TableFormat.HUDI].error
    return target


def _fs_view(d):
    """Timeline-replay listing: {abs_path: size}."""
    return {
        os.path.join(d, r["path"]): int(r["size"]) for r in live_files_rows(d)
    }


def _index_view(d):
    """The LITE `files` deltas merged: the latest record per
    (partition_path, file_name) wins, deleted entries drop out ->
    {abs_path: size}."""
    latest = {}
    records = (
        r
        for p in glob.glob(os.path.join(files_dir(d), "*.parquet"))
        for r in pq.read_table(p).to_pylist()
    )
    for r in sorted(records, key=lambda r: r["commit_instant"]):
        latest[(r["partition_path"], r["file_name"])] = r
    return {
        os.path.join(d, part, name): int(r["file_size"])
        for (part, name), r in latest.items()
        if not r["is_deleted"]
    }


def test_index_written_and_advertised(spark, source_dir):
    _sync(spark, source_dir)
    props = read_properties(source_dir)
    assert FILES_PARTITION in props[METADATA_PARTITIONS_KEY].split(",")
    assert len(glob.glob(os.path.join(files_dir(source_dir), "*.parquet"))) == 1


def test_index_equals_fs_view_multi_commit(spark, source_dir):
    """Three commits of appends: index listing == timeline replay."""
    target = _sync(spark, source_dir)
    base = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    for i in range(2):
        base.withColumn("n_nationkey", F.col("n_nationkey") + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(source_dir)
        _sync(spark, source_dir, target)
    deltas = glob.glob(os.path.join(files_dir(source_dir), "*.parquet"))
    assert len(deltas) == 3  # one per commit
    fs, idx = _fs_view(source_dir), _index_view(source_dir)
    assert fs == idx and len(fs) >= 5


def test_index_tracks_replacements(spark, source_dir):
    """A shrinking full resync writes tombstones: replaced files drop
    from the merged index exactly as they drop from the fs-view."""
    target = _sync(spark, source_dir)
    before = _index_view(source_dir)
    # replace the data: new smaller file in, old files out (mode=overwrite
    # would also delete .hoodie, so swap files explicitly)
    old_files = [f for f in os.listdir(source_dir) if f.endswith(".parquet")]
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .filter(F.col("n_nationkey") < 10)
        .coalesce(1)
        .write.mode("append")
        .parquet(source_dir)
    )
    for f in old_files:
        os.remove(os.path.join(source_dir, f))
    # fresh target object, same table: forces a FULL pass over the head
    fresh = HudiConversionTarget(spark, source_dir, table_name="nation")
    res = ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="nation"),
        {TableFormat.HUDI: fresh},
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    fs, idx = _fs_view(source_dir), _index_view(source_dir)
    assert fs == idx
    assert set(idx) != set(before)  # the replacement actually changed the set
