"""paimon_compact_small_files (sync/retention.py): COMPACT-kind
snapshot rewriting small files — rows survive, old snapshots keep the
old layout, changelog consumers see an EMPTY changelog for the compact
snapshot, conformance stays green."""

from __future__ import annotations

import os

import pytest

from incubator_xtable_spark.model.conformance import check_paimon_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.paimon_source import (
    PaimonConversionSource,
    read_paimon_as_df,
    read_paimon_changelog,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.sync.retention import paimon_compact_small_files
from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

from .conftest import SF_SMOKE


def _make_paimon(spark, tmp_path, n_files=4) -> str:
    d = str(tmp_path / "paimon_compact")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").repartition(n_files).write.parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"),
        {TableFormat.PAIMON: PaimonConversionTarget(spark, d, table_name="nation")},
    )
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS
    return d


def _keys(df):
    return sorted(r["n_nationkey"] for r in df.select("n_nationkey").collect())


def test_compact_kind_preserves_rows_and_empty_changelog(spark, tmp_path):
    d = _make_paimon(spark, tmp_path, n_files=4)
    src = PaimonConversionSource(spark, d)
    old_sid = src.latest_snapshot_id()
    before = _keys(read_paimon_as_df(spark, d))
    assert src.get_current_snapshot().files.num_rows == 4

    out = paimon_compact_small_files(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert out["snapshot_id"] is not None
    assert len(out["removed"]) == 4 and len(out["added"]) == 1

    snap = src._snapshot(out["snapshot_id"])
    assert snap["commitKind"] == "COMPACT"
    assert src.get_current_snapshot().files.num_rows == 1
    assert _keys(read_paimon_as_df(spark, d)) == before
    # time travel: the pre-compact snapshot keeps the old layout
    assert _keys(read_paimon_as_df(spark, d, snapshot_id=old_sid)) == before

    # changelog consumers: a COMPACT snapshot is an EMPTY changelog
    assert read_paimon_changelog(spark, d, out["snapshot_id"]).count() == 0

    report = check_paimon_conformance(spark, d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_compact_noop_when_big_enough(spark, tmp_path):
    d = _make_paimon(spark, tmp_path, n_files=2)
    out = paimon_compact_small_files(spark, d, target_file_bytes=64, min_file_bytes=1)
    assert out == {"removed": [], "added": [], "snapshot_id": None}


def test_schema_evolution_keeps_field_ids(spark, tmp_path):
    """Drop+add evolution must keep surviving ids and never recycle a
    dropped one (real Paimon's highestFieldId watermark rule)."""
    import json

    from pyspark.sql import types as T

    base = str(tmp_path / "paimon_evo")
    s1 = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    from incubator_xtable_spark.model.core import InternalTable, TableFormat as TF

    def _tbl(schema):
        return InternalTable(
            name="evo", table_format=TF.PAIMON, base_path=base, read_schema=schema
        )

    tgt = PaimonConversionTarget(spark, base, table_name="evo")
    tgt.begin_sync(_tbl(s1))
    tgt.sync_schema(s1)
    tgt.sync_partition_spec([])
    sid0 = tgt._ensure_schema_file()
    doc0 = json.load(open(os.path.join(base, "schema", f"schema-{sid0}")))
    ids0 = {f["name"]: f["id"] for f in doc0["fields"]}
    assert ids0 == {"a": 0, "b": 1, "c": 2} and doc0["highestFieldId"] == 2

    s2 = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("mid", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    tgt2 = PaimonConversionTarget(spark, base, table_name="evo")
    tgt2.begin_sync(_tbl(s2))
    tgt2.sync_schema(s2)
    tgt2.sync_partition_spec([])
    sid1 = tgt2._ensure_schema_file()
    assert sid1 == sid0 + 1
    doc1 = json.load(open(os.path.join(base, "schema", f"schema-{sid1}")))
    ids1 = {f["name"]: f["id"] for f in doc1["fields"]}
    assert ids1["a"] == 0 and ids1["c"] == 2
    assert ids1["mid"] == 3  # above the watermark, never b's dropped 1
    assert doc1["highestFieldId"] == 3
