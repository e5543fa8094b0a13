"""Delta version-checksum sidecars (<version>.crc): the post-commit state
summary delta-spark's VersionChecksum hook writes next to each commit.

Gates:
- every committed version gets a .crc whose numFiles/tableSizeBytes equal a
  fresh log replay's live files (the incremental maintenance is
  exact through appends, removals, and DV remove+re-add pairs);
- mid-table enablement falls back to one full recompute and is correct;
- conformance validates the sidecars against its own log replay, red-proven
  on corrupted counts / protocol / non-JSON;
- the feature is opt-in: no .crc files without it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from incubator_xtable_spark.model.conformance import check_delta_conformance
from incubator_xtable_spark.model.core import TableFormat
from incubator_xtable_spark.sources.delta_source import live_adds
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import (
    DeltaConversionTarget,
    current_log_version,
    read_version_checksum,
)

from .conftest import SF_SMOKE


def _codes(report):
    return {i.code for i in report.issues}


def _fresh_state(base):
    live = live_adds(base, current_log_version(base)).values()
    return len(live), sum(a["size"] for a in live)


def _seed(spark, tmp_path, name):
    base = str(tmp_path / name)
    (
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(base)
    )
    return base


def test_checksum_tracks_appends_and_removals(spark, tmp_path):
    base = _seed(spark, tmp_path, "crc_tbl")
    source = ParquetConversionSource(spark, base, name="customer")
    target = DeltaConversionTarget(spark, base, version_checksum=True)
    controller = ConversionController()
    controller.sync(source, {TableFormat.DELTA: target})

    # append commit
    extra = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").filter(F.col("c_custkey") < 20)
    extra.repartition(2).write.mode("append").parquet(base)
    controller.sync(source, {TableFormat.DELTA: target})

    # removal commit through the diff channel (bytes stay on disk, the
    # remove action carries the spec-optional size): one live file leaves
    from incubator_xtable_spark.model.core import (
        FILE_INVENTORY_ARROW,
        TableChange,
        arrow_table,
    )

    victim = list(live_adds(base).values())[0]
    abs_victim = base.rstrip("/") + "/" + victim["path"]
    removed = arrow_table(
        [(abs_victim, "parquet", int(victim["size"]), None, 1, None, None)],
        FILE_INVENTORY_ARROW,
    )
    empty = arrow_table([], FILE_INVENTORY_ARROW)
    target3 = DeltaConversionTarget(spark, base, version_checksum=True)
    target3.begin_sync(None)
    target3.sync_schema(spark.read.parquet(f"{SF_SMOKE}/customer.parquet").schema)
    target3.sync_partition_spec([])
    target3.sync_files_for_diff(
        TableChange(table=None, commit_id="rm1", files_added=empty, files_removed=removed)
    )
    target3.complete_sync()

    head = current_log_version(base)
    assert head is not None and head >= 2
    for v in range(head + 1):
        crc = read_version_checksum(base, v)
        assert crc is not None, f"missing .crc for version {v}"
        assert crc["numMetadata"] == 1 and crc["numProtocol"] == 1
        assert isinstance(crc["protocol"], dict) and isinstance(crc["metadata"], dict)

    n, b = _fresh_state(base)
    crc = read_version_checksum(base, head)
    assert crc["numFiles"] == n
    assert crc["tableSizeBytes"] == b
    assert b > 0

    report = check_delta_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_checksum_exact_through_dv_readds(spark, tmp_path):
    """A DV update commit (remove + re-add of a live file) must keep the
    incrementally maintained counts exact — the pair nets to zero."""
    base = _seed(spark, tmp_path, "crc_dv")
    source = ParquetConversionSource(spark, base, name="customer")
    target = DeltaConversionTarget(spark, base, version_checksum=True)
    ConversionController().sync(source, {TableFormat.DELTA: target})

    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import ROW_DELETES_ARROW, arrow_table

    live = list(live_adds(base).values())
    victim = base.rstrip("/") + "/" + live[0]["path"]
    pos_path = str(tmp_path / "pos.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([victim, victim], pa.string()),
                "pos": pa.array([0, 1], pa.int64()),
            }
        ),
        pos_path,
    )
    rd = arrow_table([(victim, pos_path, 2, None)], ROW_DELETES_ARROW)
    target2 = DeltaConversionTarget(spark, base, version_checksum=True)
    target2.begin_sync(None)
    target2.sync_schema(spark.read.parquet(f"{SF_SMOKE}/customer.parquet").schema)
    target2.sync_partition_spec([])
    target2.sync_row_deletes(rd)
    v = target2.complete_sync()

    n, b = _fresh_state(base)
    crc = read_version_checksum(base, v)
    assert crc["numFiles"] == n
    assert crc["tableSizeBytes"] == b

    report = check_delta_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_mid_table_enablement_recomputes(spark, tmp_path):
    base = _seed(spark, tmp_path, "crc_mid")
    source = ParquetConversionSource(spark, base, name="customer")
    # first sync WITHOUT checksums
    ConversionController().sync(
        source, {TableFormat.DELTA: DeltaConversionTarget(spark, base)}
    )
    assert read_version_checksum(base, 0) is None

    extra = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").limit(10)
    extra.coalesce(1).write.mode("append").parquet(base)
    ConversionController().sync(
        source, {TableFormat.DELTA: DeltaConversionTarget(spark, base, version_checksum=True)}
    )
    head = current_log_version(base)
    crc = read_version_checksum(base, head)
    assert crc is not None
    n, b = _fresh_state(base)
    assert (crc["numFiles"], crc["tableSizeBytes"]) == (n, b)


def test_opt_out_writes_no_crc(spark, tmp_path):
    base = _seed(spark, tmp_path, "crc_off")
    source = ParquetConversionSource(spark, base, name="customer")
    ConversionController().sync(
        source, {TableFormat.DELTA: DeltaConversionTarget(spark, base)}
    )
    log = os.path.join(base, "_delta_log")
    assert not [f for f in os.listdir(log) if f.endswith(".crc")]


def test_conformance_red_on_corruptions(spark, tmp_path):
    base = _seed(spark, tmp_path, "crc_red")
    source = ParquetConversionSource(spark, base, name="customer")
    ConversionController().sync(
        source, {TableFormat.DELTA: DeltaConversionTarget(spark, base, version_checksum=True)}
    )
    crc_path = os.path.join(base, "_delta_log", f"{0:020d}.crc")
    original = open(crc_path).read()

    # wrong file count
    doc = json.loads(original)
    doc["numFiles"] += 1
    open(crc_path, "w").write(json.dumps(doc))
    assert "DELTA_CRC_STATE" in _codes(check_delta_conformance(spark, base))

    # wrong byte total
    doc = json.loads(original)
    doc["tableSizeBytes"] -= 7
    open(crc_path, "w").write(json.dumps(doc))
    assert "DELTA_CRC_STATE" in _codes(check_delta_conformance(spark, base))

    # tampered protocol
    doc = json.loads(original)
    doc["protocol"] = {"minReaderVersion": 9, "minWriterVersion": 9}
    open(crc_path, "w").write(json.dumps(doc))
    assert "DELTA_CRC_PROTOCOL" in _codes(check_delta_conformance(spark, base))

    # tampered metaData
    doc = json.loads(original)
    doc["metadata"] = dict(doc["metadata"], id="not-the-table")
    open(crc_path, "w").write(json.dumps(doc))
    assert "DELTA_CRC_METADATA" in _codes(check_delta_conformance(spark, base))

    # not JSON at all
    open(crc_path, "w").write("{torn")
    assert "DELTA_CRC_NOT_JSON" in _codes(check_delta_conformance(spark, base))

    # restored -> green again
    open(crc_path, "w").write(original)
    report = check_delta_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_checksum_protocol_survives_log_expiry(spark, tmp_path):
    """After delta_expire_log prunes the commits behind a checkpoint, the
    next commit's .crc still embeds the table's protocol: the target reads
    it from the log replay, checkpoint included, not from whichever JSON
    commits remain."""
    from incubator_xtable_spark.sync.retention import delta_expire_log

    base = _seed(spark, tmp_path, "crc_expire")
    source = ParquetConversionSource(spark, base, name="customer")
    controller = ConversionController()
    customers = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")

    def sync(n):
        customers.filter(F.col("c_custkey") < n).coalesce(1).write.mode("append").parquet(base)
        target = DeltaConversionTarget(
            spark, base, checkpoint_interval=2, version_checksum=True
        )
        controller.sync(source, {TableFormat.DELTA: target})

    for n in (10, 20, 30, 40):
        sync(n)
    head = current_log_version(base)
    protocol = read_version_checksum(base, head)["protocol"]
    assert isinstance(protocol, dict)
    assert delta_expire_log(base)
    sync(50)
    assert current_log_version(base) == head + 1
    crc = read_version_checksum(base, head + 1)
    assert crc["protocol"] == protocol
    assert isinstance(crc["metadata"], dict)
    assert crc["numFiles"] == _fresh_state(base)[0]
