"""Delta Change Data Feed reads (PROTOCOL.md Change Data Files): the
Delta twin of read_paimon_changelog.

Tier 1: explicit `cdc` actions + _change_data parquet. Tier 2 (what
conversion-written tables have): derivation from file actions — adds as
inserts, removes as deletes of the previously-visible rows, and the
remove+re-add deletion-vector update shape as row-level deletes of
exactly the newly-deleted positions.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import read_delta_as_df, read_delta_cdf
from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from .conftest import SF_SMOKE
from .test_iceberg_equality_deletes import (
    _append_delete_snapshot,
    _eq_parquet,
    _field_id,
    _make_table,
)


def _changes(df):
    return sorted((r["id"], r["_change_type"]) for r in df.select("id", "_change_type").collect())


def test_derived_inserts_per_commit(spark, tmp_path):
    from pyspark.sql import functions as F

    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    base = str(tmp_path / "t")
    df = spark.range(0, 10).select(F.col("id").cast("long"))
    df.coalesce(1).write.parquet(base)
    source = ParquetConversionSource(spark, base, name="t")
    target = DeltaConversionTarget(spark, base)
    ctrl = ConversionController()
    assert ctrl.sync(source, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    cdf0 = read_delta_cdf(spark, base, 0)
    assert _changes(cdf0) == [(i, "insert") for i in range(10)]
    assert cdf0.select("_commit_version").distinct().collect()[0][0] == 0

    spark.range(10, 13).select(F.col("id").cast("long")).coalesce(1).write.mode(
        "append"
    ).parquet(base)
    assert ctrl.sync(source, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    assert _changes(read_delta_cdf(spark, base, 1)) == [(i, "insert") for i in (10, 11, 12)]


def test_dv_update_commit_emits_row_level_deletes(spark, tmp_path):
    """Iceberg source with position/equality deletes exposed as Delta
    DVs: the DV commit's CDF is exactly the deleted rows."""
    d = _make_table(spark, tmp_path)  # ids 0..19, snapshot 1
    src = IcebergConversionSource(spark, d, expose_row_deletes=True)
    fid = _field_id(src, "id")
    delta_dir = str(tmp_path / "as_delta")
    target = DeltaConversionTarget(spark, delta_dir)
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS

    eq = _eq_parquet(os.path.join(d, "eq1.parquet"), {"id": pa.array([3, 7], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], snapshot_id=999)
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    # version 1 is the DV commit (remove+re-add); CDF = the two deletes
    assert _changes(read_delta_cdf(spark, delta_dir, 1)) == [(3, "delete"), (7, "delete")]
    # table state agrees
    assert sorted(r["id"] for r in read_delta_as_df(spark, delta_dir).collect()) == [
        i for i in range(20) if i not in (3, 7)
    ]


def test_widened_dv_emits_only_new_deletes(spark, tmp_path):
    d = _make_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d, expose_row_deletes=True)
    fid = _field_id(src, "id")
    delta_dir = str(tmp_path / "as_delta")
    target = DeltaConversionTarget(spark, delta_dir)
    ctrl = ConversionController()
    ctrl.sync(src, {TableFormat.DELTA: target})
    eq1 = _eq_parquet(os.path.join(d, "eq1.parquet"), {"id": pa.array([1], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq1, [fid], {})], seq=2, snapshot_id=999)
    ctrl.sync(src, {TableFormat.DELTA: target})
    eq2 = _eq_parquet(os.path.join(d, "eq2.parquet"), {"id": pa.array([2, 5], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq2, [fid], {})], seq=3, snapshot_id=1000)
    ctrl.sync(src, {TableFormat.DELTA: target})
    # commit 2 widens the DV from {1} to {1,2,5}: CDF = only 2 and 5
    assert _changes(read_delta_cdf(spark, delta_dir, 2)) == [(2, "delete"), (5, "delete")]


def test_pure_remove_emits_previous_visible_rows(spark, tmp_path):
    """A remove-only commit (retention/compaction shape) emits deletes of
    the rows that were visible before — DV-excluded rows stay silent."""
    from pyspark.sql import functions as F

    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    base = str(tmp_path / "t")
    spark.range(0, 6).select(F.col("id").cast("long")).coalesce(1).write.parquet(base)
    source = ParquetConversionSource(spark, base, name="t")
    target = DeltaConversionTarget(spark, base)
    ConversionController().sync(source, {TableFormat.DELTA: target})
    live = json.loads(
        [
            line
            for line in open(os.path.join(base, "_delta_log", f"{0:020d}.json"))
            if '"add"' in line
        ][0]
    )["add"]
    # hand-append a remove-only commit
    import time

    with open(os.path.join(base, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "remove": {
                        "path": live["path"],
                        "deletionTimestamp": int(time.time() * 1000),
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    assert _changes(read_delta_cdf(spark, base, 1)) == [(i, "delete") for i in range(6)]


def test_cdc_action_tier_wins(spark, tmp_path):
    """Explicit cdc actions override derivation entirely."""
    from pyspark.sql import functions as F

    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    base = str(tmp_path / "t")
    spark.range(0, 4).select(F.col("id").cast("long")).coalesce(1).write.parquet(base)
    ConversionController().sync(
        ParquetConversionSource(spark, base, name="t"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, base)},
    )
    cd = os.path.join(base, "_change_data")
    os.makedirs(cd, exist_ok=True)
    cdc_path = os.path.join(cd, "cdc-0001.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([100, 2], pa.int64()),
                "_change_type": pa.array(["update_postimage", "update_preimage"]),
            }
        ),
        cdc_path,
    )
    with open(os.path.join(base, "_delta_log", f"{1:020d}.json"), "w") as fh:
        # a commit carrying BOTH a cdc action and file actions: per spec
        # the cdc files are the change record; file actions must not
        # double-derive
        fh.write(
            json.dumps(
                {
                    "cdc": {
                        "path": "_change_data/cdc-0001.parquet",
                        "partitionValues": {},
                        "size": os.path.getsize(cdc_path),
                        "dataChange": False,
                    }
                }
            )
            + "\n"
        )
        fh.write(
            json.dumps({"add": {"path": "bogus.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0, "dataChange": True}})
            + "\n"
        )
    got = _changes(read_delta_cdf(spark, base, 1))
    assert got == [(2, "update_preimage"), (100, "update_postimage")]


def test_vacuumed_remove_raises(spark, tmp_path):
    from pyspark.sql import functions as F

    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    base = str(tmp_path / "t")
    spark.range(0, 3).select(F.col("id").cast("long")).coalesce(1).write.parquet(base)
    ConversionController().sync(
        ParquetConversionSource(spark, base, name="t"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, base)},
    )
    with open(os.path.join(base, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps({"remove": {"path": "gone.parquet", "deletionTimestamp": 0, "dataChange": True}})
            + "\n"
        )
    import pytest

    with pytest.raises(ValueError, match="vacuumed"):
        read_delta_cdf(spark, base, 1)


def test_dv_cdf_on_escaped_partition_paths(spark, tmp_path):
    """Deletion vectors on files whose paths Spark reports quoted (a `%`
    in `k=a%3Ab`, a space in `k=a b+c`): a DV update's CDF is exactly the
    newly deleted rows, and a DV'd add's CDF leaves its deleted rows out,
    each with its partition value."""
    import time

    from incubator_xtable_spark.sources.delta_dv import write_dv_file

    base = str(tmp_path / "t")
    log = os.path.join(base, "_delta_log")
    os.makedirs(log)
    files = {"k=a%3Ab/f1.parquet": "a:b", "k=a b+c/f2.parquet": "a b+c"}
    for i, rel in enumerate(files):
        os.makedirs(os.path.join(base, os.path.dirname(rel)), exist_ok=True)
        ids = pa.array(range(i * 10, i * 10 + 4), pa.int64())
        pq.write_table(pa.table({"id": ids}), os.path.join(base, rel))
    late = "k=a%3Ab/f3.parquet"
    pq.write_table(pa.table({"id": pa.array(range(20, 24), pa.int64())}), os.path.join(base, late))
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "k", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    now = int(time.time() * 1000)

    def add(rel, value, dv=None):
        action = {
            "path": rel,
            "partitionValues": {"k": value},
            "size": os.path.getsize(os.path.join(base, rel)),
            "modificationTime": now,
            "dataChange": True,
        }
        if dv is not None:
            action["deletionVector"] = dv
        return {"add": action}

    def commit(version, actions):
        with open(os.path.join(log, f"{version:020d}.json"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    commit(
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema, "partitionColumns": ["k"],
                          "configuration": {"delta.enableDeletionVectors": "true"}}},
        ]
        + [add(rel, value) for rel, value in files.items()],
    )
    deleted = {"k=a%3Ab/f1.parquet": [1], "k=a b+c/f2.parquet": [0, 2]}
    commit(
        1,
        [
            a
            for rel, value in files.items()
            for a in (
                {"remove": {"path": rel, "deletionTimestamp": now, "dataChange": True}},
                add(rel, value, write_dv_file(base, deleted[rel])),
            )
        ],
    )
    commit(2, [add(late, "a:b", write_dv_file(base, [0, 3]))])

    def changes(version):
        rows = read_delta_cdf(spark, base, version).select("id", "k", "_change_type").collect()
        return sorted(tuple(r) for r in rows)

    assert changes(1) == [(1, "a:b", "delete"), (10, "a b+c", "delete"), (12, "a b+c", "delete")]
    assert changes(2) == [(21, "a:b", "insert"), (22, "a:b", "insert")]
