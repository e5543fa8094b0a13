"""Cross-format CDC channel: per-commit row changes from any CDC-capable
source persist as REAL Delta Change Data Files in the target.

Sources with emit_row_changes=True attach each commit's CDC read
(read_hudi_cdc / read_paimon_changelog / read_delta_cdf) to the
TableChange; DeltaConversionTarget(change_feed=True) writes them as cdc
actions + _change_data parquet and declares delta.enableChangeDataFeed
(writer protocol 4). The differential: reading the TARGET's CDF must
reproduce the SOURCE's change set — CDC-preserving conversion.
"""

from __future__ import annotations

import json
import os

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import read_delta_as_df, read_delta_cdf
from incubator_xtable_spark.sources.hudi_source import HudiConversionSource, read_hudi_cdc
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget, current_log_version

from .hudi_logtable import avro_data_block, delete_block
from .test_hudi_log_merge import AVRO_SCHEMA, _add_log, mor_base  # noqa: F401


def _cdc_set(df, cols):
    return sorted(
        tuple(r[c] for c in cols) + (r["_change_type"],)
        for r in df.select(*cols, "_change_type").collect()
    )


def test_hudi_to_delta_cdf_preserved(spark, tmp_path, mor_base):
    src = HudiConversionSource(spark, mor_base, view="snapshot", emit_row_changes=True)
    delta_dir = str(tmp_path / "delta")
    target = DeltaConversionTarget(spark, delta_dir, change_feed=True)
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS

    # a log commit with an upsert, an insert and a delete
    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [
            avro_data_block(
                spark,
                "20240101000002000",
                AVRO_SCHEMA,
                [{"id": 2, "v": "updated"}, {"id": 10, "v": "new"}],
            ),
            delete_block(spark, "20240101000002000", ["0"]),
        ],
    )
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    v = current_log_version(delta_dir)
    # the target commit carries explicit cdc actions + _change_data files
    commit = [
        json.loads(line)
        for line in open(os.path.join(delta_dir, "_delta_log", f"{v:020d}.json"))
    ]
    cdc_actions = [a["cdc"] for a in commit if a.get("cdc")]
    assert cdc_actions and all(a["path"].startswith("_change_data/") for a in cdc_actions)
    assert all(a["dataChange"] is False for a in cdc_actions)
    # TARGET CDF == SOURCE CDC
    got = _cdc_set(read_delta_cdf(spark, delta_dir, v), ["id", "v"])
    want = _cdc_set(read_hudi_cdc(spark, mor_base, "20240101000002000"), ["id", "v"])
    assert got == want
    assert (0, "x0", "delete") in got and (10, "new", "insert") in got
    assert (2, "x2", "update_preimage") in got and (2, "updated", "update_postimage") in got

    # protocol + table property declare CDF
    first = [
        json.loads(line)
        for line in open(os.path.join(delta_dir, "_delta_log", f"{0:020d}.json"))
    ]
    proto = next(a["protocol"] for a in first if a.get("protocol"))
    assert proto["minWriterVersion"] >= 4
    meta = next(a["metaData"] for a in first if a.get("metaData"))
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"


def test_paimon_to_delta_cdf_preserved(spark, tmp_path):
    from incubator_xtable_spark.sources.paimon_source import (
        PaimonConversionSource,
        read_paimon_changelog,
    )

    from .paimon_testtable import PaimonTestTable

    fields = [("id", "INT"), ("label", "STRING"), ("level", "INT")]
    t = PaimonTestTable(
        spark, str(tmp_path / "pt"), fields, partition_keys=["level"]
    ).create()
    rows1 = [{"id": i, "label": f"l{i}", "level": 0} for i in range(4)]
    t.append(rows1)
    src = PaimonConversionSource(spark, t.base, emit_row_changes=True)
    delta_dir = str(tmp_path / "delta")
    target = DeltaConversionTarget(spark, delta_dir, change_feed=True)
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS

    rows2 = [{"id": i, "label": f"l{i}", "level": 0} for i in range(4, 7)]
    sid, _ = t.append(rows2)
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    v = current_log_version(delta_dir)
    got = _cdc_set(read_delta_cdf(spark, delta_dir, v), ["id", "label"])
    want = _cdc_set(
        read_paimon_changelog(spark, t.base, sid), ["id", "label"]
    )
    assert got == want == [(i, f"l{i}", "insert") for i in range(4, 7)]
    # row state still converges
    assert sorted(r["id"] for r in read_delta_as_df(spark, delta_dir).collect()) == list(range(7))


def test_delta_to_delta_cdf_relay(spark, tmp_path):
    """Delta source re-emits its own CDF into the target (DV deletes
    become explicit change files on the other side)."""
    import pyarrow as pa

    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
    from .test_iceberg_equality_deletes import (
        _append_delete_snapshot,
        _eq_parquet,
        _field_id,
        _make_table,
    )

    # build a Delta table WITH a DV commit (via the iceberg route)
    d = _make_table(spark, tmp_path)
    isrc = IcebergConversionSource(spark, d, expose_row_deletes=True)
    fid = _field_id(isrc, "id")
    src_delta = str(tmp_path / "src_delta")
    ctrl = ConversionController()
    ctrl.sync(isrc, {TableFormat.DELTA: DeltaConversionTarget(spark, src_delta)})
    eq = _eq_parquet(os.path.join(d, "e.parquet"), {"id": pa.array([6], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], snapshot_id=999)
    ctrl.sync(isrc, {TableFormat.DELTA: DeltaConversionTarget(spark, src_delta)})

    # now relay src_delta -> dst_delta with the CDC channel
    relay_src = DeltaConversionSource(spark, src_delta, emit_row_changes=True)
    dst = str(tmp_path / "dst_delta")
    dst_target = DeltaConversionTarget(spark, dst, change_feed=True)
    ctrl2 = ConversionController()
    assert ctrl2.sync(relay_src, {TableFormat.DELTA: dst_target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    # FULL sync carries no CDC; the incremental DV commit does
    relay_v0 = current_log_version(dst)
    # replay the source's DV commit incrementally
    eq2 = _eq_parquet(os.path.join(d, "e2.parquet"), {"id": pa.array([15], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq2, [fid], {})], seq=3, snapshot_id=1000)
    ctrl.sync(isrc, {TableFormat.DELTA: DeltaConversionTarget(spark, src_delta)})
    assert ctrl2.sync(relay_src, {TableFormat.DELTA: dst_target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    v = current_log_version(dst)
    assert v > relay_v0
    got = _cdc_set(read_delta_cdf(spark, dst, v), ["id"])
    assert got == [(15, "delete")]
    # and the relayed table state matches the source
    assert sorted(r["id"] for r in read_delta_as_df(spark, dst).collect()) == sorted(
        r["id"] for r in read_delta_as_df(spark, src_delta).collect()
    )


def test_iceberg_cdc_read_and_channel(spark, tmp_path):
    """read_iceberg_cdc derives inserts/deletes per snapshot, and the
    channel routes them into Delta Change Data Files."""
    import pyarrow as pa

    from incubator_xtable_spark.sources.iceberg_source import (
        IcebergConversionSource,
        read_iceberg_cdc,
    )
    from .test_iceberg_equality_deletes import (
        _append_delete_snapshot,
        _eq_parquet,
        _field_id,
        _make_table,
    )

    d = _make_table(spark, tmp_path)  # ids 0..19 over 2 files, snapshot 1
    src_probe = IcebergConversionSource(spark, d)
    meta = src_probe._meta()
    first_sid = meta["current-snapshot-id"]
    # snapshot 1's CDC: everything is an insert (no parent)
    cdc1 = read_iceberg_cdc(spark, d, first_sid)
    assert sorted(r["id"] for r in cdc1.collect()) == list(range(20))
    assert {r["_change_type"] for r in cdc1.collect()} == {"insert"}

    fid = _field_id(src_probe, "id")
    eq = _eq_parquet(os.path.join(d, "eqc.parquet"), {"id": pa.array([5, 13], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], snapshot_id=999)
    cdc2 = read_iceberg_cdc(spark, d, 999)
    assert sorted((r["id"], r["_change_type"]) for r in cdc2.collect()) == [
        (5, "delete"),
        (13, "delete"),
    ]

    # channel: Iceberg -> Delta CDF (incremental commit carries the deletes)
    src = IcebergConversionSource(spark, d, expose_row_deletes=True, emit_row_changes=True)
    delta_dir = str(tmp_path / "delta")
    target = DeltaConversionTarget(spark, delta_dir, change_feed=True)
    ctrl = ConversionController()
    # rebuild from scratch so the delete snapshot replays incrementally
    import shutil

    shutil.rmtree(delta_dir, ignore_errors=True)
    # sync at snapshot 1 state is gone (table already at 999) — FULL then no CDC;
    # append ANOTHER delete so an incremental commit exists
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    eq2 = _eq_parquet(os.path.join(d, "eqc2.parquet"), {"id": pa.array([17], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq2, [fid], {})], seq=3, snapshot_id=1000)
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    v = current_log_version(delta_dir)
    got = _cdc_set(read_delta_cdf(spark, delta_dir, v), ["id"])
    assert got == [(17, "delete")]


def test_hudi_to_paimon_changelog_preserved(spark, tmp_path, mor_base):
    """The CDC channel also lands in Paimon targets: row changes become
    real changelog files (changelogManifestList), which
    read_paimon_changelog serves tier-1 — needed because OVERWRITE
    commits have no append fallback."""
    from incubator_xtable_spark.sources.paimon_source import read_paimon_changelog
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

    src = HudiConversionSource(spark, mor_base, view="snapshot", emit_row_changes=True)
    pdir = str(tmp_path / "paimon")
    target = PaimonConversionTarget(spark, pdir, table_name="t")
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.PAIMON: target})[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS

    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [
            avro_data_block(
                spark, "20240101000002000", AVRO_SCHEMA, [{"id": 3, "v": "upd"}]
            ),
            delete_block(spark, "20240101000002000", ["1"]),
        ],
    )
    assert ctrl.sync(src, {TableFormat.PAIMON: target})[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS
    # target snapshot 2 carries the changelog; this is an OVERWRITE
    # commit (shadow swap), so only the explicit tier can serve it
    snap = json.load(open(os.path.join(pdir, "snapshot", "snapshot-2")))
    assert snap["changelogManifestList"] is not None
    assert snap["commitKind"] == "OVERWRITE"
    got = _cdc_set(read_paimon_changelog(spark, pdir, 2), ["id", "v"])
    want = _cdc_set(read_hudi_cdc(spark, mor_base, "20240101000002000"), ["id", "v"])
    assert got == want
    assert (1, "x1", "delete") in got and (3, "upd", "update_postimage") in got
    # row-state parity still holds
    from incubator_xtable_spark.sources.paimon_source import read_paimon_as_df
    from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df

    assert sorted((r["id"], r["v"]) for r in read_paimon_as_df(spark, pdir).collect()) == sorted(
        (r["id"], r["v"]) for r in read_hudi_as_df(spark, mor_base, mode="snapshot").collect()
    )


def test_partitioned_cdf_carries_partition_values(spark, tmp_path):
    """Partitioned targets: cdc actions carry real partitionValues so
    CDF readers re-derive non-null partition columns."""
    from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

    from .paimon_testtable import PaimonTestTable

    fields = [("id", "INT"), ("label", "STRING"), ("level", "INT")]
    t = PaimonTestTable(spark, str(tmp_path / "pt"), fields, partition_keys=["level"]).create()
    t.append([{"id": i, "label": f"l{i}", "level": i % 2} for i in range(4)])
    src = PaimonConversionSource(spark, t.base, emit_row_changes=True)
    delta_dir = str(tmp_path / "delta")
    target = DeltaConversionTarget(spark, delta_dir, change_feed=True)
    ctrl = ConversionController()
    ctrl.sync(src, {TableFormat.DELTA: target})
    t.append([{"id": 10, "label": "ten", "level": 0}, {"id": 11, "label": "eleven", "level": 1}])
    ctrl.sync(src, {TableFormat.DELTA: target})
    v = current_log_version(delta_dir)
    commit = [
        json.loads(line)
        for line in open(os.path.join(delta_dir, "_delta_log", f"{v:020d}.json"))
    ]
    cdc_actions = [a["cdc"] for a in commit if a.get("cdc")]
    assert cdc_actions and all(a["partitionValues"].get("level") in ("0", "1") for a in cdc_actions)
    cdf = read_delta_cdf(spark, delta_dir, v)
    got = sorted((r["id"], r["level"], r["_change_type"]) for r in cdf.select("id", "level", "_change_type").collect())
    assert got == [(10, 0, "insert"), (11, 1, "insert")]


def test_change_feed_enablement_upgrades_protocol(spark, tmp_path, mor_base):
    """Turning change_feed on for an EXISTING table must commit a
    protocol upgrade before cdc actions appear (writer 4+, and writer-7
    tables must list the changeDataFeed feature)."""
    from incubator_xtable_spark.model.conformance import check_delta_conformance

    delta_dir = str(tmp_path / "delta")
    src_off = HudiConversionSource(spark, mor_base, view="snapshot")
    ctrl = ConversionController()
    ctrl.sync(src_off, {TableFormat.DELTA: DeltaConversionTarget(spark, delta_dir)})

    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [avro_data_block(spark, "20240101000002000", AVRO_SCHEMA, [{"id": 1, "v": "u"}])],
    )
    src_on = HudiConversionSource(spark, mor_base, view="snapshot", emit_row_changes=True)
    ctrl.sync(src_on, {TableFormat.DELTA: DeltaConversionTarget(spark, delta_dir, change_feed=True)})
    v = current_log_version(delta_dir)
    commit = [
        json.loads(line)
        for line in open(os.path.join(delta_dir, "_delta_log", f"{v:020d}.json"))
    ]
    assert any(a.get("cdc") for a in commit)
    protos = [a["protocol"] for a in commit if a.get("protocol")]
    assert protos and protos[0]["minWriterVersion"] >= 4
    report = check_delta_conformance(spark, delta_dir)
    assert report.passed, [f"{i.code}: {i.detail}" for i in report.issues]


def test_iceberg_cdc_expired_parent_raises(spark, tmp_path):
    from .test_iceberg_equality_deletes import (
        _append_delete_snapshot,
        _eq_parquet,
        _field_id,
        _make_table,
    )
    from incubator_xtable_spark.sources.iceberg_source import (
        IcebergConversionSource,
        read_iceberg_cdc,
    )
    from incubator_xtable_spark.targets.iceberg_target import (
        current_metadata_version,
        metadata_dir,
        read_table_metadata,
    )
    import pyarrow as pa
    import pytest

    d = _make_table(spark, tmp_path)
    src = IcebergConversionSource(spark, d)
    fid = _field_id(src, "id")
    first_sid = src._meta()["current-snapshot-id"]
    eq = _eq_parquet(os.path.join(d, "eqx.parquet"), {"id": pa.array([1], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], snapshot_id=999)
    # expire the parent snapshot from the chain
    meta = read_table_metadata(d)
    meta["snapshots"] = [s for s in meta["snapshots"] if s["snapshot-id"] != first_sid]
    v = current_metadata_version(d)
    with open(os.path.join(metadata_dir(d), f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="expired"):
        read_iceberg_cdc(spark, d, 999)


def test_legacy_cdf_protocol_survives_feature_upgrade(spark, tmp_path):
    """A legacy writer-4 table (CDF implied) upgraded to table features
    (writer 7) by a later DV sync must LIST changeDataFeed and
    generatedColumns — writer-7 tables enable only listed features."""
    import pyarrow as pa

    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
    from .test_iceberg_equality_deletes import (
        _append_delete_snapshot,
        _eq_parquet,
        _field_id,
        _make_table,
    )

    d = _make_table(spark, tmp_path)
    delta_dir = str(tmp_path / "delta")
    ctrl = ConversionController()
    # phase 1: CDF-enabled target -> legacy protocol (1, 4)
    src1 = IcebergConversionSource(spark, d, expose_row_deletes=True, emit_row_changes=True)
    ctrl.sync(src1, {TableFormat.DELTA: DeltaConversionTarget(spark, delta_dir, change_feed=True)})
    log = os.path.join(delta_dir, "_delta_log")
    proto0 = next(
        json.loads(line)["protocol"]
        for line in open(os.path.join(log, f"{0:020d}.json"))
        if '"protocol"' in line
    )
    # iceberg field ids add column mapping -> legacy writer 5 (CDF still
    # implied by >=4); still a LEGACY protocol, no feature lists
    assert proto0["minWriterVersion"] == 5 and "writerFeatures" not in proto0

    # phase 2: a DV commit synced by a change_feed=False target instance
    fid = _field_id(src1, "id")
    eq = _eq_parquet(os.path.join(d, "lg.parquet"), {"id": pa.array([2], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], snapshot_id=999)
    src2 = IcebergConversionSource(spark, d, expose_row_deletes=True)
    ctrl.sync(src2, {TableFormat.DELTA: DeltaConversionTarget(spark, delta_dir)})
    v = current_log_version(delta_dir)
    protos = [
        json.loads(line)["protocol"]
        for line in open(os.path.join(log, f"{v:020d}.json"))
        if '"protocol"' in line
    ]
    assert protos and protos[0]["minWriterVersion"] == 7
    wf = set(protos[0]["writerFeatures"])
    # legacy-implied features carried into the feature list
    assert {"changeDataFeed", "generatedColumns", "columnMapping", "deletionVectors"} <= wf


def test_cdf_written_with_physical_names_under_column_mapping(spark, tmp_path):
    """ADVICE r5: under columnMapping mode=name with RENAMED columns
    (physicalName != logical), change data files must store PHYSICAL
    column names and cdc partitionValues must key by physical name —
    exactly like data files — or CDF reads silently return nulls."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from incubator_xtable_spark.model.core import InternalTable
    from incubator_xtable_spark.model.core import TableFormat as TF
    from incubator_xtable_spark.model.schema_meta import FIELD_ID, STORAGE_NAME

    base = str(tmp_path / "cm_cdf")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True, {FIELD_ID: 1, STORAGE_NAME: "col-aa"}),
            T.StructField("label", T.StringType(), True, {FIELD_ID: 2, STORAGE_NAME: "col-bb"}),
            T.StructField("level", T.IntegerType(), True, {FIELD_ID: 3, STORAGE_NAME: "col-cc"}),
        ]
    )
    table = InternalTable(name="cm", table_format=TF.PARQUET, base_path=base, read_schema=schema)
    target = DeltaConversionTarget(spark, base, change_feed=True)
    target.begin_sync(table)
    target.sync_schema(schema)
    target.sync_partition_spec(["level"])
    assert target.complete_sync() == 0

    changes = spark.createDataFrame(
        [(10, "ten", 0, "insert"), (11, "eleven", 1, "insert"), (2, "two", 0, "delete")],
        "id LONG, label STRING, level INT, _change_type STRING",
    )
    target.begin_sync(table)
    target.sync_schema(schema)
    target.sync_partition_spec(["level"])
    target.sync_row_changes(changes)
    v = target.complete_sync()
    assert v == 1

    commit = [
        json.loads(line)
        for line in open(os.path.join(base, "_delta_log", f"{v:020d}.json"))
    ]
    cdc = [a["cdc"] for a in commit if a.get("cdc")]
    assert cdc
    # partitionValues keyed by the partition column's PHYSICAL name
    assert all(set(a["partitionValues"]) == {"col-cc"} for a in cdc)
    # the change parquet stores physical column names (level is hive-pathed)
    files = glob.glob(os.path.join(base, "_change_data", "*.parquet"))
    assert files
    stored = set(pq.read_schema(files[0]).names)
    assert "col-aa" in stored and "col-bb" in stored
    assert "id" not in stored and "label" not in stored

    cdf = read_delta_cdf(spark, base, v)
    got = sorted(
        (r["id"], r["label"], r["level"], r["_change_type"]) for r in cdf.collect()
    )
    assert got == [
        (2, "two", 0, "delete"),
        (10, "ten", 0, "insert"),
        (11, "eleven", 1, "insert"),
    ]


def test_delta_to_hudi_cdc_preserved(spark, tmp_path):
    """r6: symmetric CDC writes for HUDI targets — a Delta source's CDF
    relays into Hudi CDC supplemental blocks (cdcStats tier), and
    reading the TARGET's CDC reproduces the SOURCE's change set."""
    import pyarrow as pa

    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.sources.hudi_source import read_properties
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
    from incubator_xtable_spark.targets.hudi_target import (
        HudiConversionTarget,
        list_completed_instants,
        read_commit_metadata,
    )

    from .test_iceberg_equality_deletes import (
        _append_delete_snapshot,
        _eq_parquet,
        _field_id,
        _make_table,
    )

    # a Delta table with an incremental DV-delete commit (iceberg route)
    d = _make_table(spark, tmp_path)
    isrc = IcebergConversionSource(spark, d, expose_row_deletes=True)
    fid = _field_id(isrc, "id")
    src_delta = str(tmp_path / "src_delta")
    ctrl = ConversionController()
    ctrl.sync(isrc, {TableFormat.DELTA: DeltaConversionTarget(spark, src_delta)})

    relay_src = DeltaConversionSource(spark, src_delta, emit_row_changes=True)
    hudi_dir = str(tmp_path / "as_hudi")
    target = HudiConversionTarget(spark, hudi_dir, table_name="cdct", change_feed=True)
    ctrl2 = ConversionController()
    assert (
        ctrl2.sync(relay_src, {TableFormat.HUDI: target})[TableFormat.HUDI].status
        == SyncStatusCode.SUCCESS
    )
    props = read_properties(hudi_dir)
    assert props.get("hoodie.table.cdc.enabled") == "true"

    # source-side delete commit -> relay incrementally
    eq = _eq_parquet(os.path.join(d, "e.parquet"), {"id": pa.array([6], pa.int64())})
    _append_delete_snapshot(spark, d, [(eq, [fid], {})], snapshot_id=999)
    ctrl.sync(isrc, {TableFormat.DELTA: DeltaConversionTarget(spark, src_delta)})
    res = ctrl2.sync(relay_src, {TableFormat.HUDI: target})[TableFormat.HUDI]
    assert res.status == SyncStatusCode.SUCCESS, res.error

    instant, action = list_completed_instants(hudi_dir)[-1]
    meta = read_commit_metadata(hudi_dir, instant, action)
    cdc_paths = [
        p
        for stats in (meta.get("partitionToWriteStats") or {}).values()
        for st in stats
        for p in (st.get("cdcStats") or {})
    ]
    assert cdc_paths, "commit must name its CDC supplemental file in cdcStats"
    assert all(os.path.exists(os.path.join(hudi_dir, p)) for p in cdc_paths)

    src_v = current_log_version(src_delta)
    want = _cdc_set(read_delta_cdf(spark, src_delta, src_v), ["id", "name"])
    got = _cdc_set(read_hudi_cdc(spark, hudi_dir, instant), ["id", "name"])
    assert want == [(6, "n6", "delete")]
    assert got == want

    # conformance stays green with cdcStats attached
    from incubator_xtable_spark.model.conformance import check_hudi_conformance

    report = check_hudi_conformance(hudi_dir)
    assert report.passed, [f"{i.code}: {i.detail}" for i in report.issues]


def test_hudi_to_hudi_cdc_relay_with_updates(spark, tmp_path, mor_base):
    """Update preimage/postimage pairs re-pair into single u-records in
    the target's CDC block; inserts and deletes keep their ops."""
    from incubator_xtable_spark.sources.hudi_log import block_records, read_log_blocks
    from incubator_xtable_spark.targets.hudi_target import (
        HudiConversionTarget,
        list_completed_instants,
        read_commit_metadata,
    )

    src = HudiConversionSource(spark, mor_base, view="snapshot", emit_row_changes=True)
    hudi_dir = str(tmp_path / "as_hudi")
    target = HudiConversionTarget(spark, hudi_dir, table_name="relay", change_feed=True)
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.HUDI: target})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS

    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [
            avro_data_block(
                spark,
                "20240101000002000",
                AVRO_SCHEMA,
                [{"id": 2, "v": "updated"}, {"id": 10, "v": "new"}],
            ),
            delete_block(spark, "20240101000002000", ["0"]),
        ],
    )
    assert ctrl.sync(src, {TableFormat.HUDI: target})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS

    instant, action = list_completed_instants(hudi_dir)[-1]
    meta = read_commit_metadata(hudi_dir, instant, action)
    cdc_paths = [
        p
        for stats in (meta.get("partitionToWriteStats") or {}).values()
        for st in stats
        for p in (st.get("cdcStats") or {})
    ]
    assert cdc_paths
    ops = []
    for p in cdc_paths:
        for block in read_log_blocks(os.path.join(hudi_dir, p)):
            kind, records = block_records(spark, block)
            assert kind == "cdc"
            ops.extend(r["op"] for r in records)
    # one insert (id 10), one true u-record (id 2), one delete (id 0)
    assert sorted(ops) == ["d", "i", "u"]

    src_instant = src.get_current_snapshot().version
    want = _cdc_set(read_hudi_cdc(spark, mor_base, src_instant), ["id", "v"])
    got = _cdc_set(read_hudi_cdc(spark, hudi_dir, instant), ["id", "v"])
    assert got == want and len(want) == 4


def test_hudi_cdc_round_trips_timestamp_and_date(spark, tmp_path):
    """Typed CDC fidelity through the Hudi channel: timestamp/date
    values normalize to Avro logical representations on write and
    decode back to Spark values on read."""
    import datetime

    from pyspark.sql import types as T

    from incubator_xtable_spark.model.core import InternalTable
    from incubator_xtable_spark.model.core import TableFormat as TF
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.hudi_target import (
        HudiConversionTarget,
        list_completed_instants,
    )

    base = str(tmp_path / "typed")
    import pyspark.sql.functions as F

    spark.range(0, 3).select(
        F.col("id").cast("long"),
        F.to_timestamp(F.lit("2024-03-01 10:00:00")).alias("ts"),
        F.to_date(F.lit("2024-03-01")).alias("day"),
    ).coalesce(1).write.parquet(base)
    target = HudiConversionTarget(spark, base, table_name="typed", change_feed=True)
    src = ParquetConversionSource(spark, base, name="typed")
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.HUDI: target})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS

    # drive an incremental-style commit with typed row changes directly
    table = src.get_current_table()
    ts = datetime.datetime(2024, 3, 2, 12, 30, 45, 123456)
    day = datetime.date(2024, 3, 2)
    changes = spark.createDataFrame(
        [
            (7, ts, day, "insert"),
            (1, ts, day, "delete"),
            (2, ts, day, "update_preimage"),
            (2, ts, None, "update_postimage"),
        ],
        T.StructType(
            list(table.read_schema.fields)
            + [T.StructField("_change_type", T.StringType())]
        ),
    )
    # a row-changing commit always carries file actions (the cdcStats
    # anchor) — mirror that: one new data file lands with the changes
    spark.range(7, 8).select(
        F.col("id").cast("long"),
        F.to_timestamp(F.lit("2024-03-02 12:30:45.123456")).alias("ts"),
        F.to_date(F.lit("2024-03-02")).alias("day"),
    ).coalesce(1).write.mode("append").parquet(base)
    snap = src.get_current_snapshot()
    target.begin_sync(table)
    target.sync_schema(table.read_schema)
    target.sync_partition_spec([])
    target.sync_files_for_snapshot(snap.files)
    target.sync_row_changes(changes)
    instant = target.complete_sync()

    cdc = read_hudi_cdc(spark, base, instant)
    got = {
        (r["id"], r["ts"], r["day"], r["_change_type"])
        for r in cdc.select("id", "ts", "day", "_change_type").collect()
    }
    want = {
        (7, ts, day, "insert"),
        (1, ts, day, "delete"),
        (2, ts, day, "update_preimage"),
        (2, ts, None, "update_postimage"),
    }
    assert got == want


def test_hudi_cdc_read_decodes_one_log_per_task(spark, tmp_path, monkeypatch):
    """A commit with two CDC logs reads through one Spark task per log,
    and no log decodes on the driver."""
    from incubator_xtable_spark.sources import hudi_source
    from incubator_xtable_spark.sources.hudi_log import write_cdc_log_file
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.hudi_target import (
        HudiConversionTarget,
        completed_instant_file,
    )

    base = str(tmp_path / "two_logs")
    spark.range(0, 2).coalesce(1).write.parquet(base)
    target = HudiConversionTarget(spark, base, table_name="t", change_feed=True)
    src = ParquetConversionSource(spark, base, name="t")
    res = ConversionController().sync(src, {TableFormat.HUDI: target})
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    spark.range(2, 4).coalesce(1).write.mode("append").parquet(base)
    table = src.get_current_table()
    target.begin_sync(table)
    target.sync_schema(table.read_schema)
    target.sync_partition_spec([])
    target.sync_files_for_snapshot(src.get_current_snapshot().files)
    target.sync_row_changes(spark.createDataFrame([(2, "insert")], "id long, _change_type string"))
    instant = target.complete_sync()

    # a second CDC log in the same commit
    commit = completed_instant_file(base, instant, "commit")
    with open(commit, encoding="utf-8") as fh:
        meta = json.load(fh)
    rel = f".cdc-{instant}.log.2_0-0-0.cdc"
    size = write_cdc_log_file(
        os.path.join(base, rel),
        instant,
        meta["extraMetadata"]["schema"],
        [{"op": "i", "before": None, "after": {"id": 3}}],
    )
    next(iter(meta["partitionToWriteStats"].values()))[0]["cdcStats"][rel] = size
    with open(commit, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)

    def driver_decode(*_args):
        raise AssertionError("a CDC log was decoded on the driver")

    monkeypatch.setattr(hudi_source, "cdc_log_rows", driver_decode)
    df = read_hudi_cdc(spark, base, instant)
    per_task = df.rdd.glom().map(lambda rows: [(r["id"], r["_change_type"]) for r in rows])
    assert sorted(per_task.collect()) == [[(2, "insert")], [(3, "insert")]]
