"""Retirement of the row-keyed Hudi metadata partitions.

Older builds could maintain a record index (``record_index_field``), a
``bloom_filters`` partition and a ``secondary_index_idx_<field>``
partition by scanning the rows of every added file. The engine now
converts metadata only, so a sync of a table that still lists them drops
the names from ``hoodie.table.metadata.partitions`` first and deletes
their directories second. A crash between the two steps leaves a table
that lists none of them (readable, conformant) with orphan directories
that the next sync removes."""

from __future__ import annotations

import os
import shutil

import pytest

from incubator_xtable_spark.model.conformance import check_hudi_conformance
from incubator_xtable_spark.model.core import SyncMode, SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df, read_properties
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionConfig, ConversionController
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

from .conftest import SF_SMOKE
from .hudi_hfile_fixture import add_retired_index_partitions


def _sync(spark, d):
    res = ConversionController(ConversionConfig(sync_mode=SyncMode.FULL)).sync(
        ParquetConversionSource(spark, d, name="nation"),
        {
            TableFormat.HUDI: HudiConversionTarget(
                spark, d, table_name="nation", metadata_index_format="hfile"
            )
        },
    )
    return res[TableFormat.HUDI]


def _listed(d):
    return read_properties(d)["hoodie.table.metadata.partitions"].split(",")


def _rows(spark, d):
    return sorted(tuple(r) for r in read_hudi_as_df(spark, d).collect())


@pytest.mark.parametrize("rmtree_fails_once", [False, True], ids=["clean", "rmtree-fails-once"])
def test_sync_retires_row_keyed_partitions(spark, tmp_path, monkeypatch, rmtree_fails_once):
    d = str(tmp_path / "hudi")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").repartition(3).write.parquet(d)
    assert _sync(spark, d).status == SyncStatusCode.SUCCESS
    retired = add_retired_index_partitions(d, "n_name")
    meta = os.path.join(d, ".hoodie", "metadata")
    assert set(retired) <= set(_listed(d))
    assert check_hudi_conformance(d).passed
    before = _rows(spark, d)

    if rmtree_fails_once:
        real_rmtree = shutil.rmtree
        calls = []

        def rmtree_once(path, *a, **kw):
            if os.path.basename(path) in retired and not calls:
                calls.append(path)
                raise OSError(f"injected failure removing {path}")
            return real_rmtree(path, *a, **kw)

        monkeypatch.setattr(shutil, "rmtree", rmtree_once)
        assert _sync(spark, d).status == SyncStatusCode.ERROR
        # the property step ran first: nothing lists the partitions, so
        # the table stays conformant while their directories remain
        assert not set(retired) & set(_listed(d))
        assert all(os.path.isdir(os.path.join(meta, p)) for p in retired)
        assert check_hudi_conformance(d).passed

    assert _sync(spark, d).status == SyncStatusCode.SUCCESS
    assert _listed(d) == ["column_stats", "files"]
    assert not set(retired) & set(os.listdir(meta))
    assert check_hudi_conformance(d).passed
    assert _rows(spark, d) == before
