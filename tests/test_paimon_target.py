"""Paimon conversion TARGET (beyond the reference, which is Paimon
source-only): any supported source converts INTO a Paimon FileStore
layout, metadata-only via DataFileMeta._EXTERNAL_PATH.

Differential gates: every converted table is read back through the
engine's own from-spec Paimon SOURCE (snapshot scan, manifest merge,
BinaryRow partitions, stats decode) — writer and reader share only the
avro schema constants and codecs, like the fixture convention.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import (
    InternalPartitionField,
    SyncMode,
    SyncStatusCode,
    TableFormat,
)
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df
from incubator_xtable_spark.sources.paimon_source import (
    PaimonConversionSource,
    read_paimon_as_df,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget
from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

from .conftest import SF_SMOKE
from .model_tables import model_rows


def _rows(df, order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


@pytest.fixture()
def source_dir(spark, tmp_path):
    d = str(tmp_path / "src")
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def test_parquet_to_paimon_full_sync(spark, source_dir):
    source = ParquetConversionSource(spark, source_dir, name="nation")
    target = PaimonConversionTarget(spark, source_dir, table_name="nation")
    res = ConversionController().sync(source, {TableFormat.PAIMON: target})
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS, res[TableFormat.PAIMON].error
    assert res[TableFormat.PAIMON].mode == SyncMode.FULL

    order = ["n_nationkey"]
    via_parquet = _rows(spark.read.parquet(source_dir), order)
    via_paimon = _rows(read_paimon_as_df(spark, source_dir), order)
    assert via_parquet == via_paimon and len(via_paimon) == 25

    # layout exists and the bookmark reads back through the schema chain
    assert os.path.exists(os.path.join(source_dir, "snapshot", "snapshot-1"))
    bm = target.get_table_metadata()
    assert bm is not None and bm.source_table_format == "PARQUET"


def test_paimon_target_incremental_append(spark, source_dir):
    source = ParquetConversionSource(spark, source_dir, name="nation")
    target = PaimonConversionTarget(spark, source_dir, table_name="nation")
    ctrl = ConversionController()
    ctrl.sync(source, {TableFormat.PAIMON: target})

    extra = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").filter(F.col("n_nationkey") < 5)
    extra.withColumn("n_nationkey", F.col("n_nationkey") + 100).coalesce(1).write.mode(
        "append"
    ).parquet(source_dir)
    res = ctrl.sync(source, {TableFormat.PAIMON: target})
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS, res[TableFormat.PAIMON].error
    assert res[TableFormat.PAIMON].mode == SyncMode.INCREMENTAL

    order = ["n_nationkey"]
    assert _rows(read_paimon_as_df(spark, source_dir), order) == _rows(
        spark.read.parquet(source_dir), order
    )
    assert read_paimon_as_df(spark, source_dir).count() == 30
    # second snapshot exists; commit diff for it contains only the delta
    src = PaimonConversionSource(spark, source_dir)
    assert src.latest_snapshot_id() == 2
    ch = src.get_table_change_for_commit("2")
    assert ch.files_added.num_rows >= 1
    assert ch.files_removed.num_rows == 0


def test_paimon_target_stats_roundtrip(spark, source_dir):
    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="nation"),
        {TableFormat.PAIMON: PaimonConversionTarget(spark, source_dir, table_name="nation")},
    )
    snap = PaimonConversionSource(spark, source_dir).get_current_snapshot()
    row = next(r for r in model_rows(snap.files) if r["column_stats"] is not None)
    stats = row["column_stats"]
    assert "n_nationkey" in stats
    mn = json.loads(stats["n_nationkey"]["min_json"])
    mx = json.loads(stats["n_nationkey"]["max_json"])
    assert 0 <= mn <= mx <= 24
    assert stats["n_nationkey"]["null_count"] == 0


def test_partitioned_parquet_to_paimon(spark, tmp_path):
    base = str(tmp_path / "part")
    (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .limit(300)
        .withColumn("o_year", F.year("o_orderdate"))
        .repartition(2)
        .write.partitionBy("o_year")
        .parquet(base)
    )
    source = ParquetConversionSource(
        spark, base, name="orders", partition_fields=[InternalPartitionField("o_year")]
    )
    target = PaimonConversionTarget(spark, base, table_name="orders")
    res = ConversionController().sync(source, {TableFormat.PAIMON: target})
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS, res[TableFormat.PAIMON].error

    order = ["o_orderkey"]
    # scope the raw read to the hive dirs: the paimon metadata dirs now
    # coexist and would break spark's partition-root inference
    via_parquet = _rows(
        spark.read.option("basePath", base)
        .parquet(f"{base}/o_year=*")
        .select("o_orderkey", "o_year"),
        order,
    )
    via_paimon = _rows(read_paimon_as_df(spark, base).select("o_orderkey", "o_year"), order)
    assert via_parquet == via_paimon and len(via_paimon) == 300

    # manifest partitions decode back to the identity values
    snap = PaimonConversionSource(spark, base).get_current_snapshot()
    pvs = {r["partition_values"]["o_year"] for r in model_rows(snap.files)}
    assert pvs and all(v.isdigit() for v in pvs)


def test_full_resync_is_noop_delta_manifest(spark, source_dir):
    source = ParquetConversionSource(spark, source_dir, name="nation")
    ctrl = ConversionController()
    ctrl.sync(source, {TableFormat.PAIMON: PaimonConversionTarget(spark, source_dir, table_name="nation")})
    # drive a FULL snapshot sync against the already-converged table: the
    # snapshot-as-diff must produce an EMPTY delta manifest
    target = PaimonConversionTarget(spark, source_dir, table_name="nation")
    snap = source.get_current_snapshot()
    target.begin_sync(snap.table)
    target.sync_schema(snap.table.read_schema)
    target.sync_partition_spec(snap.table.partition_fields)
    target.sync_files_for_snapshot(snap.files)
    new_id = target.complete_sync()
    src = PaimonConversionSource(spark, source_dir)
    assert src.latest_snapshot_id() == new_id == 2
    latest = src._latest()
    delta_entries = src._entries_for_lists([latest.get("deltaManifestList") or ""])
    assert delta_entries == []
    assert read_paimon_as_df(spark, source_dir).count() == 25


def test_five_way_equivalence(spark, source_dir):
    """One parquet source -> Delta + Iceberg + Hudi + Paimon in ONE sync;
    all five read paths produce identical rows (the reference's
    checkDatasetEquivalence, one format wider)."""
    source = ParquetConversionSource(spark, source_dir, name="nation")
    targets = {
        TableFormat.DELTA: DeltaConversionTarget(spark, source_dir),
        TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="nation"),
        TableFormat.HUDI: HudiConversionTarget(spark, source_dir, table_name="nation"),
        TableFormat.PAIMON: PaimonConversionTarget(spark, source_dir, table_name="nation"),
    }
    res = ConversionController().sync(source, targets)
    for fmt, r in res.items():
        assert r.status == SyncStatusCode.SUCCESS, (fmt, r.error)
    order = ["n_nationkey"]
    expected = _rows(spark.read.parquet(source_dir), order)
    assert _rows(read_delta_as_df(spark, source_dir), order) == expected
    assert _rows(read_iceberg_as_df(spark, source_dir), order) == expected
    assert _rows(read_hudi_as_df(spark, source_dir), order) == expected
    assert _rows(read_paimon_as_df(spark, source_dir), order) == expected


def test_paimon_to_paimon_roundtrip_via_delta(spark, tmp_path):
    """Paimon source -> Delta target -> Delta source -> Paimon target:
    the full circle stays row-identical."""
    from .paimon_testtable import PaimonTestTable

    FIELDS = [("id", "INT NOT NULL"), ("name", "STRING"), ("level", "STRING NOT NULL")]
    t = PaimonTestTable(spark, str(tmp_path / "p0"), FIELDS, partition_keys=["level"]).create()
    t.append([{"id": i, "name": f"n{i}", "level": "INFO"} for i in range(8)])

    mid = str(tmp_path / "mid")
    os.makedirs(mid)
    # stage 1: paimon -> delta (shared dir with the paimon table's files)
    res = ConversionController().sync(
        PaimonConversionSource(spark, t.base, name="p0"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, t.base)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    # stage 2: delta -> paimon (fresh layout rooted at the same dir works
    # only for a fresh table; here the paimon layout already exists, so
    # land the second paimon table beside the delta log)
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource

    out = str(tmp_path / "p1")
    os.makedirs(out)
    res = ConversionController().sync(
        DeltaConversionSource(spark, t.base, name="p0"),
        {TableFormat.PAIMON: PaimonConversionTarget(spark, out, table_name="p1")},
    )
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS, res[TableFormat.PAIMON].error
    a = sorted(tuple(r) for r in read_paimon_as_df(spark, t.base).collect())
    b = sorted(
        tuple(r)
        for r in read_paimon_as_df(spark, out).select("id", "name", "level").collect()
    )
    assert a == b and len(a) == 8


# ---------------------------------------------------------------------------
# Row-delete channel INTO Paimon (DV index writes)
# ---------------------------------------------------------------------------


def test_delta_dv_to_paimon_dv_metadata_only(spark, tmp_path):
    """Delta deletion vectors convert to Paimon deletion-vector index
    files — zero data rewrite, row parity through both readers."""
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource

    from .test_row_delete_conversion import _base_table, _dv_commit

    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])

    out = str(tmp_path / "paimon_out")
    os.makedirs(out)
    res = ConversionController().sync(
        DeltaConversionSource(spark, base, expose_row_deletes=True),
        {TableFormat.PAIMON: PaimonConversionTarget(spark, out, table_name="dvt")},
    )
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS, res[TableFormat.PAIMON].error

    import glob as _glob

    assert _glob.glob(os.path.join(out, "index", "index-*"))
    assert not _glob.glob(os.path.join(base, "*.purged-*"))
    expected = sorted(i for i in range(20) if i not in (2, 3, 7))
    via_delta = sorted(r["id"] for r in read_delta_as_df(spark, base).collect())
    via_paimon = sorted(r["id"] for r in read_paimon_as_df(spark, out).collect())
    assert via_delta == via_paimon == expected

    # widen the DV -> incremental restatement in Paimon
    _dv_commit(base, 2, s1, [1, 2, 3, 7, 9])
    res = ConversionController().sync(
        DeltaConversionSource(spark, base, expose_row_deletes=True),
        {TableFormat.PAIMON: PaimonConversionTarget(spark, out, table_name="dvt")},
    )
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS, res[TableFormat.PAIMON].error
    assert res[TableFormat.PAIMON].mode == SyncMode.INCREMENTAL
    expected = sorted(i for i in range(20) if i not in (1, 2, 3, 7, 9))
    assert sorted(r["id"] for r in read_paimon_as_df(spark, out).collect()) == expected


def test_paimon_dv_roundtrip_paimon_to_paimon(spark, tmp_path):
    """Paimon DV source -> Paimon target lands an equivalent DV index."""
    from .paimon_testtable import PaimonTestTable

    FIELDS = [("id", "INT NOT NULL"), ("name", "STRING"), ("level", "STRING NOT NULL")]
    t = PaimonTestTable(spark, str(tmp_path / "pin"), FIELDS, partition_keys=["level"]).create()
    _, entries = t.append([{"id": i, "name": f"n{i}", "level": "INFO"} for i in range(10)])
    fname = entries[0]["_FILE"]["_FILE_NAME"]
    t.set_deletion_vectors([({"level": "INFO"}, 0, {fname: [1, 4]})])

    out = str(tmp_path / "pout")
    os.makedirs(out)
    res = ConversionController().sync(
        PaimonConversionSource(spark, t.base, name="pin", expose_row_deletes=True),
        {TableFormat.PAIMON: PaimonConversionTarget(spark, out, table_name="pout")},
    )
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS, res[TableFormat.PAIMON].error
    a = sorted(r["id"] for r in read_paimon_as_df(spark, t.base).collect())
    b = sorted(r["id"] for r in read_paimon_as_df(spark, out).collect())
    assert a == b == [0, 2, 3, 5, 6, 7, 8, 9]


def test_pk_target_request_refused_with_rationale(spark, tmp_path):
    """r6 decision (README 'Paimon conversion matrix'): PK-table targets
    are physically impossible metadata-only (KeyValue layout) — the
    request fails up front with the rationale, never a broken table."""
    import pytest

    with pytest.raises(ValueError, match="KeyValue row layout"):
        PaimonConversionTarget(spark, str(tmp_path / "pk"), primary_keys=["id"])
