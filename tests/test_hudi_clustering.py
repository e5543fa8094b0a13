"""hudi_cluster_small_files (sync/retention.py): small-file clustering
as a REPLACECOMMIT — replaced fileIds drop their groups, rows survive
exactly, time travel keeps the old layout, the CDC derivation sees no
row changes, and the v8 timeline layout is honored when the table
declares it."""

from __future__ import annotations

import os

from incubator_xtable_spark.model.conformance import check_hudi_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.hudi_source import (
    live_files_rows,
    read_hudi_as_df,
    read_hudi_cdc,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.sync.retention import hudi_cluster_small_files
from incubator_xtable_spark.targets.hudi_target import (
    HudiConversionTarget,
    list_completed_instants,
    read_commit_metadata,
)

from .conftest import SF_SMOKE


def _make_hudi(spark, tmp_path, n_files=4, **tgt_kw) -> str:
    d = str(tmp_path / "hudi_cluster")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").repartition(n_files).write.parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"),
        {TableFormat.HUDI: HudiConversionTarget(spark, d, table_name="nation", **tgt_kw)},
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    return d


def _keys(df):
    return sorted(r["n_nationkey"] for r in df.select("n_nationkey").collect())


def test_clustering_replacecommit_preserves_rows(spark, tmp_path):
    d = _make_hudi(spark, tmp_path, n_files=4)
    before = _keys(read_hudi_as_df(spark, d))
    first_instant = list_completed_instants(d)[-1][0]
    assert len(live_files_rows(d)) == 4

    out = hudi_cluster_small_files(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert out["instant"] is not None
    assert len(out["removed"]) == 4 and len(out["added"]) == 1

    instants = list_completed_instants(d)
    assert instants[-1] == (out["instant"], "replacecommit")
    meta = read_commit_metadata(d, out["instant"], "replacecommit")
    replaced = [f for fids in meta["partitionToReplaceFileIds"].values() for f in fids]
    assert len(replaced) == 4

    assert len(live_files_rows(d)) == 1
    assert _keys(read_hudi_as_df(spark, d)) == before
    # time travel to the pre-clustering instant keeps the old layout
    assert _keys(read_hudi_as_df(spark, d, as_of_instant=first_instant)) == before

    # a clustering rewrite derives ZERO row changes
    assert read_hudi_cdc(spark, d, out["instant"]).count() == 0

    report = check_hudi_conformance(d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_clustering_on_v8_timeline(spark, tmp_path):
    d = _make_hudi(spark, tmp_path, n_files=3, table_version=8)
    before = _keys(read_hudi_as_df(spark, d))
    out = hudi_cluster_small_files(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert out["instant"] is not None
    # the replacecommit landed in the v8 timeline dir with a completion time
    tdir = os.path.join(d, ".hoodie", "timeline")
    completed = [f for f in os.listdir(tdir) if f.endswith(".replacecommit")]
    assert len(completed) == 1 and "_" in completed[0].split(".")[0]
    assert _keys(read_hudi_as_df(spark, d)) == before
    report = check_hudi_conformance(d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_clustering_noop_when_big_enough(spark, tmp_path):
    d = _make_hudi(spark, tmp_path, n_files=2)
    out = hudi_cluster_small_files(spark, d, target_file_bytes=64, min_file_bytes=1)
    assert out == {"removed": [], "added": [], "instant": None}


def test_clustering_hfile_index_table_keeps_hfile_shape(spark, tmp_path):
    d = str(tmp_path / "hudi_hfile")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").repartition(3).write.parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"),
        {
            TableFormat.HUDI: HudiConversionTarget(
                spark, d, table_name="nation", metadata_index_format="hfile"
            )
        },
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    before = _keys(read_hudi_as_df(spark, d))
    out = hudi_cluster_small_files(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert out["instant"] is not None
    assert _keys(read_hudi_as_df(spark, d)) == before
    # the maintenance commit wrote HFILE-shaped index deltas, not parquet
    files_dir = os.path.join(d, ".hoodie", "metadata", "files")
    assert any(f.endswith((".hfile", ".log.1_0-0-0")) for f in os.listdir(files_dir))
    assert not any(f.endswith(".parquet") for f in os.listdir(files_dir))
    report = check_hudi_conformance(d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_clustering_retires_row_keyed_indexes(spark, tmp_path):
    from incubator_xtable_spark.sources.hudi_source import read_properties

    from .hudi_hfile_fixture import add_retired_index_partitions

    d = _make_hudi(spark, tmp_path, n_files=3, metadata_index_format="hfile")
    retired = add_retired_index_partitions(d, "n_name")
    before = _keys(read_hudi_as_df(spark, d))
    out = hudi_cluster_small_files(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert out["instant"] is not None
    assert _keys(read_hudi_as_df(spark, d)) == before
    listed = read_properties(d)["hoodie.table.metadata.partitions"].split(",")
    assert listed == ["column_stats", "files"]
    assert not set(retired) & set(os.listdir(os.path.join(d, ".hoodie", "metadata")))
    report = check_hudi_conformance(d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]
