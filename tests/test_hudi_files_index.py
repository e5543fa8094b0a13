"""Hudi metadata-table `files` index: per-commit listing deltas written
by the target, merged read tier on the source.

Reference parity: the write client maintains the full metadata table
(ref hudi/HudiConversionTarget.java:267-470); readers gate listing
acceleration on hoodie.table.metadata.partitions. Differential gate:
the index-derived file listing must EQUAL the fs-view (timeline-replay)
listing on a multi-commit table, including through replacements.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.hudi_metadata import (
    FILES_PARTITION,
    METADATA_PARTITIONS_KEY,
    file_listing_from_index,
    files_dir,
    files_index_available,
)
from incubator_xtable_spark.sources.hudi_source import (
    HudiConversionSource,
    live_files_rows,
    read_hudi_as_df,
    read_properties,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

from .conftest import SF_SMOKE
from .model_tables import model_rows


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


def _index_view(spark, d):
    return {
        r["physical_path"]: int(r["size_bytes"])
        for r in file_listing_from_index(spark, d).collect()
    }


def test_index_written_and_advertised(spark, source_dir):
    _sync(spark, source_dir)
    props = read_properties(source_dir)
    assert FILES_PARTITION in props[METADATA_PARTITIONS_KEY].split(",")
    assert files_index_available(source_dir)
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
    fs, idx = _fs_view(source_dir), _index_view(spark, source_dir)
    assert fs == idx and len(fs) >= 5


def test_index_tracks_replacements(spark, source_dir):
    """A shrinking full resync writes tombstones: replaced files drop
    from the merged index exactly as they drop from the fs-view."""
    target = _sync(spark, source_dir)
    before = _index_view(spark, source_dir)
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
    fs, idx = _fs_view(source_dir), _index_view(spark, source_dir)
    assert fs == idx
    assert set(idx) != set(before)  # the replacement actually changed the set


def test_snapshot_uses_index_and_matches_replay(spark, source_dir):
    """The conversion source's indexed listing tier produces the same
    inventory as the timeline-replay path (the read-tier differential)."""
    target = _sync(spark, source_dir)
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.mode(
        "append"
    ).parquet(source_dir)
    _sync(spark, source_dir, target)

    src = HudiConversionSource(spark, source_dir)
    table = src.get_current_table()
    latest = max(i for i, _ in __import__(
        "incubator_xtable_spark.targets.hudi_target", fromlist=["list_completed_instants"]
    ).list_completed_instants(source_dir))
    via_index = src._indexed_listing(table, latest, with_stats=True)
    assert via_index is not None  # index available + fresh -> tier active
    rows_replay = src._to_inventory(live_files_rows(source_dir, latest), table, True)

    def key(files):
        return sorted(
            (r["physical_path"], r["size_bytes"], r["record_count"], r["last_modified_ms"])
            for r in model_rows(files)
        )

    assert key(via_index) == key(rows_replay)


def test_stale_index_falls_back(spark, source_dir):
    """Deleting the newest index delta makes the tier report stale and
    the snapshot still resolves correctly via timeline replay."""
    target = _sync(spark, source_dir)
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.mode(
        "append"
    ).parquet(source_dir)
    _sync(spark, source_dir, target)
    newest = sorted(glob.glob(os.path.join(files_dir(source_dir), "*.parquet")))[-1]
    os.remove(newest)

    src = HudiConversionSource(spark, source_dir)
    table = src.get_current_table()
    from incubator_xtable_spark.targets.hudi_target import list_completed_instants

    latest = list_completed_instants(source_dir)[-1][0]
    assert src._indexed_listing(table, latest, with_stats=False) is None
    snap = src.get_current_snapshot(with_stats=False)
    assert snap.files.num_rows == len(_fs_view(source_dir))
    assert read_hudi_as_df(spark, source_dir).count() == 50
