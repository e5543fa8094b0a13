"""delta_shallow_clone (sync/retention.py): a zero-copy metadata-only
Delta table copy — version-0 commit re-references the source's live
files by absolute path, 'u'-storage deletion vectors re-point through
absolute 'p'-storage descriptors, the clone gets a fresh table id and
diverges independently. The same zero-rewrite ethos as the row-delete
channel, at whole-table granularity."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_xtable_spark.model.conformance import check_delta_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import (
    latest_action,
    list_log_versions,
    read_delta_as_df,
)
from incubator_xtable_spark.sources.delta_dv import write_dv_file
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.sync.retention import delta_shallow_clone
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from .conftest import SF_SMOKE


def _sync(spark, d):
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS


def _keys(df):
    return sorted(r["n_nationkey"] for r in df.select("n_nationkey").collect())


def test_clone_reads_identical_then_diverges(spark, tmp_path):
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.parquet(src)
    _sync(spark, src)
    before = _keys(read_delta_as_df(spark, src))

    out = delta_shallow_clone(spark, src, dst)
    assert out["version"] == 0 and out["cloned_files"] >= 1
    assert _keys(read_delta_as_df(spark, dst)) == before
    # fresh identity, same schema/config; history starts at 0
    assert latest_action(dst, "metaData")["id"] != latest_action(src, "metaData")["id"]
    assert (
        latest_action(dst, "metaData")["schemaString"]
        == latest_action(src, "metaData")["schemaString"]
    )
    assert list_log_versions(dst) == [0]
    # no data bytes under the clone — metadata only
    assert not [f for f in os.listdir(dst) if f.endswith(".parquet")]
    # the clone conforms as a table in its own right
    report = check_delta_conformance(spark, dst)
    assert report.passed, [(i.code, i.detail) for i in report.issues]

    # the source moves on; the clone's view is pinned
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").withColumn(
        "n_nationkey", F.col("n_nationkey") + 100
    ).coalesce(1).write.mode("append").parquet(src)
    _sync(spark, src)
    assert len(_keys(read_delta_as_df(spark, src))) == 50
    assert _keys(read_delta_as_df(spark, dst)) == before

    # time-travel clone of the source's version 0
    dst0 = str(tmp_path / "clone_v0")
    out0 = delta_shallow_clone(spark, src, dst0, version=0)
    assert out0["source_version"] == 0
    assert _keys(read_delta_as_df(spark, dst0)) == before

    # destination already a table -> loud refusal, nothing overwritten
    with pytest.raises(RuntimeError, match="already a delta table"):
        delta_shallow_clone(spark, src, dst)


SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
            {"name": "label", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _dv_table(base: str) -> None:
    """Two files; a 'u'-storage DV deletes ids {2,3,7} from file 1 (the
    remove + re-add Delta shape) — mirrors tests/test_delta_dv.py."""
    os.makedirs(base, exist_ok=True)

    def _data(path, ids):
        pq.write_table(
            pa.table(
                {"id": pa.array(ids, pa.int64()), "label": [f"row-{i}" for i in ids]}
            ),
            path,
        )
        return {
            "numRecords": len(ids),
            "minValues": {"id": min(ids), "label": f"row-{min(ids)}"},
            "maxValues": {"id": max(ids), "label": f"row-{max(ids)}"},
            "nullCount": {"id": 0, "label": 0},
        }

    s1 = _data(os.path.join(base, "part-0001.parquet"), list(range(10)))
    s2 = _data(os.path.join(base, "part-0002.parquet"), list(range(10, 20)))

    def _add(p, s, dv=None):
        return {
            "add": {
                "path": p,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(base, p)),
                "modificationTime": 1,
                "dataChange": True,
                "stats": json.dumps(s),
                **({"deletionVector": dv} if dv else {}),
            }
        }

    def _log(version, actions):
        d = os.path.join(base, "_delta_log")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{version:020d}.json"), "w", encoding="utf-8") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    _log(
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {
                "metaData": {
                    "id": "dv-src",
                    "name": "dvtab",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": SCHEMA_STRING,
                    "partitionColumns": [],
                    "configuration": {},
                    "createdTime": 1,
                }
            },
            _add("part-0001.parquet", s1),
            _add("part-0002.parquet", s2),
        ],
    )
    desc = write_dv_file(base, [2, 3, 7])
    _log(
        1,
        [
            {
                "remove": {
                    "path": "part-0001.parquet",
                    "deletionTimestamp": 2,
                    "dataChange": True,
                }
            },
            _add("part-0001.parquet", s1, dv=desc),
        ],
    )


def test_clone_repoints_deletion_vectors(spark, tmp_path):
    """A delete-heavy table clones metadata-only: the clone's adds carry
    absolute 'p'-storage DV descriptors pointing at the SOURCE's DV
    files (offset/size/cardinality preserved), and the DV-applied read
    matches the source exactly."""
    src = str(tmp_path / "dv_src")
    dst = str(tmp_path / "dv_clone")
    _dv_table(src)
    expected = [i for i in range(20) if i not in (2, 3, 7)]
    assert sorted(r["id"] for r in read_delta_as_df(spark, src).collect()) == expected

    out = delta_shallow_clone(spark, src, dst)
    assert out["cloned_files"] == 2
    assert sorted(r["id"] for r in read_delta_as_df(spark, dst).collect()) == expected
    with open(os.path.join(dst, "_delta_log", f"{0:020d}.json"), encoding="utf-8") as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    dvs = [
        a["add"]["deletionVector"]
        for a in actions
        if "add" in a and a["add"].get("deletionVector")
    ]
    assert len(dvs) == 1
    assert dvs[0]["storageType"] == "p"
    assert dvs[0]["pathOrInlineDv"].startswith(src)
    assert os.path.exists(dvs[0]["pathOrInlineDv"])
    assert dvs[0]["cardinality"] == 3
    report = check_delta_conformance(spark, dst)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_clone_cli(spark, tmp_path, capsys):
    from incubator_xtable_spark.run_sync import run_maintenance

    src = str(tmp_path / "cli_src")
    dst = str(tmp_path / "cli_clone")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.parquet(src)
    _sync(spark, src)
    run_maintenance(["clone", "--path", src, "--to-path", dst])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 0 and out["cloned_files"] >= 1
    assert len(_keys(read_delta_as_df(spark, dst))) == 25


def test_clone_converts_onward_to_iceberg(spark, tmp_path):
    """A shallow clone is a full conversion citizen: DeltaConversionSource
    reads the clone (absolute-path adds), and converting the CLONE to
    Iceberg yields row parity with the original table — the clone's
    files flow through as external references, still zero-copy."""
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.parquet(src)
    _sync(spark, src)
    delta_shallow_clone(spark, src, dst)

    res = ConversionController().sync(
        DeltaConversionSource(spark, dst),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, dst, table_name="clone")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    assert _keys(read_iceberg_as_df(spark, dst)) == _keys(read_delta_as_df(spark, src))
    # still zero-copy: no data files under the clone directory
    assert not [f for f in os.listdir(dst) if f.endswith(".parquet")]
