"""Spec-conformance gate (model/conformance.py): the stand-in for the
reference's official-reader validation (ITConversionController.java:948-1026
reads every target back through the real format connectors — this env has
no format jars, so raw-file structural checks written from the public
specs take that place).

Strategy: convert fixtures with the real engine, assert the conformance
report is green; then inject one corruption at a time and assert the
SPECIFIC check fires (a checker that cannot go red proves nothing).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.conformance import (
    check_conformance,
    check_delta_conformance,
    check_hudi_conformance,
    check_iceberg_conformance,
)
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_dv import write_dv_file
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def converted(spark, tmp_path_factory):
    """One partitioned source converted to all three formats, shared by
    the green assertions and copied fresh for each corruption."""
    base = str(tmp_path_factory.mktemp("conformance") / "table")
    (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .limit(400)
        .withColumn("o_year", F.year("o_orderdate"))
        .repartition(2)
        .write.partitionBy("o_year")
        .parquet(base)
    )
    from incubator_xtable_spark.model.core import InternalPartitionField

    source = ParquetConversionSource(
        spark, base, name="orders", partition_fields=[InternalPartitionField("o_year")]
    )
    res = ConversionController().sync(
        source,
        {
            TableFormat.DELTA: DeltaConversionTarget(spark, base),
            TableFormat.ICEBERG: IcebergConversionTarget(spark, base),
            TableFormat.HUDI: HudiConversionTarget(spark, base),
        },
    )
    assert all(r.status == SyncStatusCode.SUCCESS for r in res.values()), res
    return base


@pytest.fixture()
def table_copy(converted, tmp_path):
    """Fresh mutable copy per corruption test."""
    dst = str(tmp_path / "copy")
    shutil.copytree(converted, dst)
    return dst


def _codes(report):
    return {i.code for i in report.issues}


# ---------------------------------------------------------------------------
# Green on engine output
# ---------------------------------------------------------------------------


def test_all_formats_conform(spark, converted):
    for fmt in ("DELTA", "ICEBERG", "HUDI"):
        report = check_conformance(spark, converted, fmt)
        assert report.passed, f"{fmt}: {[ (i.code, i.detail) for i in report.issues ]}"
        assert report.checked_files > 0


def test_delta_dv_table_conforms(spark, tmp_path):
    """A hand-built Delta table whose DV file came from the engine's own
    DV writer passes the independent frame/descriptor checks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path / "dvtab")
    os.makedirs(base)
    pq.write_table(
        pa.table({"id": pa.array(range(10), pa.int64())}),
        os.path.join(base, "part-0001.parquet"),
    )
    desc = write_dv_file(base, [2, 3, 7])
    log = os.path.join(base, "_delta_log")
    os.makedirs(log)
    schema = {
        "type": "struct",
        "fields": [{"name": "id", "type": "long", "nullable": True, "metadata": {}}],
    }
    actions = [
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
                "id": "t",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {
            "add": {
                "path": "part-0001.parquet",
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(base, "part-0001.parquet")),
                "modificationTime": 1,
                "dataChange": True,
                "stats": json.dumps({"numRecords": 10, "nullCount": {"id": 0}}),
                "deletionVector": desc,
            }
        },
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)

    report = check_delta_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]

    # and the frame check actually reads the DV file: flip one data byte
    dv_files = [f for f in os.listdir(base) if f.startswith("deletion_vector_")]
    p = os.path.join(base, dv_files[0])
    blob = bytearray(open(p, "rb").read())
    blob[6] ^= 0xFF  # inside the frame data -> CRC must fail
    open(p, "wb").write(bytes(blob))
    report = check_delta_conformance(spark, base)
    assert "DELTA_DV_BAD_CRC" in _codes(report)


def _checkpointed_table(spark, tmp_path, name="cp"):
    base = str(tmp_path / name)
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(base)
    source = ParquetConversionSource(spark, base, name="region")
    target = DeltaConversionTarget(spark, base, checkpoint_interval=2)
    ctrl = ConversionController()
    ctrl.sync(source, {TableFormat.DELTA: target})
    src_df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    for i in range(2):  # append commits until the checkpoint interval trips
        src_df.withColumn("r_regionkey", F.col("r_regionkey") + 100 + i).coalesce(
            1
        ).write.mode("append").parquet(base)
        ctrl.sync(source, {TableFormat.DELTA: target})
    assert os.path.exists(os.path.join(base, "_delta_log", "_last_checkpoint"))
    return base


def test_checkpointed_delta_conforms(spark, tmp_path):
    base = _checkpointed_table(spark, tmp_path)
    report = check_delta_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


# ---------------------------------------------------------------------------
# Red on injected corruption — Delta
# ---------------------------------------------------------------------------


def _delta_log_path(base, version=0):
    return os.path.join(base, "_delta_log", f"{version:020d}.json")


def _rewrite_actions(base, version, mutate):
    p = _delta_log_path(base, version)
    actions = [json.loads(l) for l in open(p)]
    actions = mutate(actions)
    with open(p, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)


def test_delta_detects_missing_protocol(spark, table_copy):
    _rewrite_actions(table_copy, 0, lambda acts: [a for a in acts if "protocol" not in a])
    assert "DELTA_V0_NO_PROTOCOL" in _codes(check_delta_conformance(spark, table_copy))


def test_delta_detects_size_lie(spark, table_copy):
    def mutate(acts):
        for a in acts:
            if "add" in a:
                a["add"]["size"] += 1
                break
        return acts

    _rewrite_actions(table_copy, 0, mutate)
    assert "DELTA_ADD_SIZE" in _codes(check_delta_conformance(spark, table_copy))


def test_delta_detects_corrupt_stats(spark, table_copy):
    def mutate(acts):
        for a in acts:
            if "add" in a:
                a["add"]["stats"] = "{not json"
                break
        return acts

    _rewrite_actions(table_copy, 0, mutate)
    assert "DELTA_STATS_NOT_JSON" in _codes(check_delta_conformance(spark, table_copy))


def test_delta_detects_missing_data_file(spark, table_copy):
    first_add = None
    for line in open(_delta_log_path(table_copy)):
        a = json.loads(line)
        if "add" in a:
            first_add = a["add"]["path"]
            break
    os.remove(os.path.join(table_copy, first_add))
    assert "DELTA_ADD_FILE_MISSING" in _codes(check_delta_conformance(spark, table_copy))


def test_delta_detects_partition_key_drift(spark, table_copy):
    def mutate(acts):
        for a in acts:
            if "add" in a:
                a["add"]["partitionValues"] = {"bogus_col": "1"}
                break
        return acts

    _rewrite_actions(table_copy, 0, mutate)
    assert "DELTA_ADD_PARTITION_KEYS" in _codes(check_delta_conformance(spark, table_copy))


def test_delta_detects_feature_gap(spark, table_copy):
    """minReaderVersion 3 without readerFeatures is a protocol violation."""

    def mutate(acts):
        for a in acts:
            if "protocol" in a:
                a["protocol"] = {"minReaderVersion": 3, "minWriterVersion": 7}
        return acts

    _rewrite_actions(table_copy, 0, mutate)
    assert "DELTA_READER_FEATURES" in _codes(check_delta_conformance(spark, table_copy))


def test_delta_detects_checkpoint_size_lie(spark, tmp_path):
    base = _checkpointed_table(spark, tmp_path, "cp2")
    lc = os.path.join(base, "_delta_log", "_last_checkpoint")
    meta = json.load(open(lc))
    meta["size"] += 5
    json.dump(meta, open(lc, "w"))
    assert "DELTA_CHECKPOINT_SIZE" in _codes(check_delta_conformance(spark, base))


# ---------------------------------------------------------------------------
# Red on injected corruption — Iceberg
# ---------------------------------------------------------------------------


def _latest_iceberg_meta(base):
    d = os.path.join(base, "metadata")
    names = sorted(f for f in os.listdir(d) if f.endswith(".metadata.json"))
    return os.path.join(d, names[-1])


def _mutate_iceberg_meta(base, mutate):
    p = _latest_iceberg_meta(base)
    meta = json.load(open(p))
    meta = mutate(meta)
    json.dump(meta, open(p, "w"))


def test_iceberg_detects_missing_required_field(spark, table_copy):
    def mutate(m):
        del m["last-column-id"]
        return m

    _mutate_iceberg_meta(table_copy, mutate)
    assert "ICE_METADATA_FIELD" in _codes(check_iceberg_conformance(spark, table_copy))


def test_iceberg_detects_column_id_bound(spark, table_copy):
    def mutate(m):
        m["last-column-id"] = 0
        return m

    _mutate_iceberg_meta(table_copy, mutate)
    assert "ICE_LAST_COLUMN_ID" in _codes(check_iceberg_conformance(spark, table_copy))


def test_iceberg_detects_bad_current_snapshot(spark, table_copy):
    def mutate(m):
        m["current-snapshot-id"] = 123456789
        return m

    _mutate_iceberg_meta(table_copy, mutate)
    assert "ICE_CURRENT_SNAPSHOT" in _codes(check_iceberg_conformance(spark, table_copy))


def test_iceberg_detects_sequence_regression(spark, table_copy):
    def mutate(m):
        m["last-sequence-number"] = 0
        return m

    _mutate_iceberg_meta(table_copy, mutate)
    assert "ICE_SEQUENCE_BOUND" in _codes(check_iceberg_conformance(spark, table_copy))


def _own_iceberg_table(spark, tmp_path):
    """Function-scoped table: Iceberg manifests store ABSOLUTE paths, so
    mutations must land in the table the metadata actually references
    (the shared table_copy would leave the original intact)."""
    base = str(tmp_path / "ice_own")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(base)
    res = ConversionController().sync(
        ParquetConversionSource(spark, base, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, base)},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    return base


def test_iceberg_detects_manifest_length_drift(spark, tmp_path):
    base = _own_iceberg_table(spark, tmp_path)
    mdir = os.path.join(base, "metadata")
    manifests = [f for f in os.listdir(mdir) if f.endswith(".avro") and not f.startswith("snap-")]
    assert manifests, os.listdir(mdir)
    with open(os.path.join(mdir, manifests[0]), "ab") as fh:
        fh.write(b"xx")
    assert "ICE_MANIFEST_LENGTH" in _codes(check_iceberg_conformance(spark, base))


def test_iceberg_detects_missing_data_file(spark, tmp_path):
    base = _own_iceberg_table(spark, tmp_path)
    victims = [
        f
        for f in os.listdir(base)
        if f.endswith(".parquet") and os.path.isfile(os.path.join(base, f))
    ]
    assert victims
    os.remove(os.path.join(base, victims[0]))
    assert "ICE_DATA_FILE_MISSING" in _codes(check_iceberg_conformance(spark, base))


def test_iceberg_upper_case_partition_conforms(spark, tmp_path):
    """A table partitioned by one upper-case column: every manifest entry
    carries a one-field partition record named `P`, which the checker
    must read as the record it is, and the table conforms."""
    from incubator_xtable_spark.model.avro_codec import read_ocf
    from incubator_xtable_spark.model.core import InternalPartitionField

    base = str(tmp_path / "upper")
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .withColumn("P", (F.col("n_nationkey") % 3).cast("string"))
        .write.partitionBy("P")
        .parquet(base)
    )
    res = ConversionController().sync(
        ParquetConversionSource(
            spark, base, name="nation", partition_fields=[InternalPartitionField("P")]
        ),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, base)},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    report = check_iceberg_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]
    mdir = os.path.join(base, "metadata")
    partitions = {
        json.dumps(rec["data_file"]["partition"], sort_keys=True)
        for f in os.listdir(mdir)
        if f.endswith(".avro") and not f.startswith("snap-")
        for rec in read_ocf(os.path.join(mdir, f))[0]
    }
    assert partitions == {json.dumps({"P": v}) for v in ("0", "1", "2")}


# ---------------------------------------------------------------------------
# Red on injected corruption — Hudi
# ---------------------------------------------------------------------------


def test_hudi_detects_missing_requested(table_copy):
    hoodie = os.path.join(table_copy, ".hoodie")
    requested = [f for f in os.listdir(hoodie) if f.endswith(".requested")]
    assert requested
    os.remove(os.path.join(hoodie, requested[0]))
    assert "HUDI_NO_REQUESTED" in _codes(check_hudi_conformance(table_copy))


def test_hudi_detects_commit_shape(table_copy):
    hoodie = os.path.join(table_copy, ".hoodie")
    completed = [
        f for f in os.listdir(hoodie) if f.split(".")[-1] in ("commit", "replacecommit")
    ]
    p = os.path.join(hoodie, completed[0])
    cm = json.load(open(p))
    del cm["partitionToWriteStats"]
    json.dump(cm, open(p, "w"))
    assert "HUDI_COMMIT_SHAPE" in _codes(check_hudi_conformance(table_copy))


def test_hudi_detects_stat_file_missing(table_copy):
    hoodie = os.path.join(table_copy, ".hoodie")
    completed = [
        f for f in os.listdir(hoodie) if f.split(".")[-1] in ("commit", "replacecommit")
    ]
    p = os.path.join(hoodie, completed[0])
    cm = json.load(open(p))
    part, stats = next((k, v) for k, v in cm["partitionToWriteStats"].items() if v)
    stats[0]["path"] = "nope/" + os.path.basename(stats[0]["path"])
    json.dump(cm, open(p, "w"))
    assert "HUDI_STAT_FILE_MISSING" in _codes(check_hudi_conformance(table_copy))


def test_hudi_detects_missing_table_property(table_copy):
    props = os.path.join(table_copy, ".hoodie", "hoodie.properties")
    lines = [l for l in open(props) if not l.startswith("hoodie.table.version")]
    open(props, "w").writelines(lines)
    assert "HUDI_PROPERTY" in _codes(check_hudi_conformance(table_copy))


# ---------------------------------------------------------------------------
# Paimon (this engine WRITES the layout too, via targets/paimon_target.py)
# ---------------------------------------------------------------------------


def _own_paimon_table(spark, tmp_path):
    from incubator_xtable_spark.model.conformance import check_paimon_conformance
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

    base = str(tmp_path / "pai_own")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(base)
    res = ConversionController().sync(
        ParquetConversionSource(spark, base, name="region"),
        {TableFormat.PAIMON: PaimonConversionTarget(spark, base, table_name="region")},
    )
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS
    return base, check_paimon_conformance


def test_paimon_target_output_conforms(spark, tmp_path):
    base, check = _own_paimon_table(spark, tmp_path)
    report = check(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]
    assert report.checked_files >= 3


def test_paimon_detects_missing_data_file(spark, tmp_path):
    base, check = _own_paimon_table(spark, tmp_path)
    victim = [f for f in os.listdir(base) if f.endswith(".parquet")][0]
    os.remove(os.path.join(base, victim))
    assert "PAI_DATA_FILE_MISSING" in {i.code for i in check(spark, base).issues}


def test_paimon_detects_latest_hint_lie(spark, tmp_path):
    base, check = _own_paimon_table(spark, tmp_path)
    with open(os.path.join(base, "snapshot", "LATEST"), "w") as fh:
        fh.write("99")
    assert "PAI_LATEST_HINT" in {i.code for i in check(spark, base).issues}


def test_paimon_detects_schema_shape(spark, tmp_path):
    base, check = _own_paimon_table(spark, tmp_path)
    p = os.path.join(base, "schema", "schema-0")
    sch = json.load(open(p))
    del sch["partitionKeys"]
    json.dump(sch, open(p, "w"))
    assert "PAI_SCHEMA_FIELD" in {i.code for i in check(spark, base).issues}


def test_cdf_conformance_green_then_red(spark, tmp_path):
    """Change Data Files: green on channel-written tables; red when a cdc
    parquet vanishes or the enabling property is stripped."""
    import glob
    import json
    import os
    import shutil

    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

    from .hudi_logtable import avro_data_block
    from .test_hudi_log_merge import AVRO_SCHEMA as HUDI_SCHEMA
    from .test_hudi_log_merge import _add_log, _commit, _write_base

    base = str(tmp_path / "mor")
    os.makedirs(os.path.join(base, ".hoodie"))
    props = {
        "hoodie.table.name": "t",
        "hoodie.table.type": "MERGE_ON_READ",
        "hoodie.table.version": "6",
        "hoodie.table.base.file.format": "PARQUET",
        "hoodie.populate.meta.fields": "false",
        "hoodie.table.partition.fields": "",
        "hoodie.table.recordkey.fields": "id",
    }
    with open(os.path.join(base, ".hoodie", "hoodie.properties"), "w") as fh:
        for k, v in props.items():
            fh.write(f"{k}={v}\n")
    s1 = _write_base(base, "g1_0-0-0_001.parquet", list(range(4)))
    _commit(
        base,
        "20240101000001000",
        "deltacommit",
        [{"fileId": "g1", "path": "g1_0-0-0_001.parquet", "fileSizeInBytes": s1, "numWrites": 4}],
    )
    delta_dir = str(tmp_path / "delta")
    src = HudiConversionSource(spark, base, view="snapshot", emit_row_changes=True)
    target = DeltaConversionTarget(spark, delta_dir, change_feed=True)
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    _add_log(
        base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [avro_data_block(spark, "20240101000002000", HUDI_SCHEMA, [{"id": 1, "v": "u"}])],
    )
    assert ctrl.sync(src, {TableFormat.DELTA: target})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS

    report = check_delta_conformance(spark, delta_dir)
    assert report.passed, [f"{i.code}: {i.detail}" for i in report.issues]

    # red 1: cdc parquet vanishes
    cdc_file = glob.glob(os.path.join(delta_dir, "_change_data", "*.parquet"))[0]
    stash = cdc_file + ".stash"
    os.rename(cdc_file, stash)
    assert "DELTA_CDC_FILE_MISSING" in _codes(check_delta_conformance(spark, delta_dir))
    os.rename(stash, cdc_file)

    # red 2: enabling property stripped from every metaData action
    log = os.path.join(delta_dir, "_delta_log")
    for fn in sorted(os.listdir(log)):
        if not (fn.endswith(".json") and fn[:-5].isdigit()):
            continue
        lines = []
        for line in open(os.path.join(log, fn)):
            a = json.loads(line)
            if "metaData" in a:
                a["metaData"]["configuration"].pop("delta.enableChangeDataFeed", None)
            lines.append(json.dumps(a))
        with open(os.path.join(log, fn), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    assert "DELTA_CDF_NOT_ENABLED" in _codes(check_delta_conformance(spark, delta_dir))


def test_iceberg_refs_and_statistics_conformance(spark, tmp_path):
    """Refs must resolve (main == head), statistics must reference live
    snapshots + intact puffin files — green on engine output, red on a
    dangling ref, a vanished puffin, and a mangled puffin magic."""
    import json
    import os

    from incubator_xtable_spark.model.conformance import check_iceberg_conformance
    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.iceberg_statistics import write_ndv_statistics
    from incubator_xtable_spark.targets.iceberg_target import (
        IcebergConversionTarget,
        current_metadata_version,
        metadata_dir,
        read_table_metadata,
    )

    base = str(tmp_path / "ice")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(base)
    res = ConversionController().sync(
        ParquetConversionSource(spark, base, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, base, table_name="region")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    stats_path = write_ndv_statistics(spark, base, columns=["r_regionkey"])
    assert check_iceberg_conformance(spark, base).passed

    def _mutate(fn):
        meta = read_table_metadata(base)
        fn(meta)
        v = current_metadata_version(base)
        with open(os.path.join(metadata_dir(base), f"v{v}.metadata.json"), "w") as fh:
            json.dump(meta, fh)

    # red 1: dangling tag
    _mutate(lambda m: m.setdefault("refs", {}).update(bogus={"snapshot-id": 123456, "type": "tag"}))
    assert "ICE_REF_DANGLING" in _codes(check_iceberg_conformance(spark, base))
    _mutate(lambda m: m["refs"].pop("bogus"))
    # red 2: main mismatched from head
    _mutate(lambda m: m["refs"].update(main={"snapshot-id": m["snapshots"][0]["snapshot-id"] + 1, "type": "branch"}))
    codes = _codes(check_iceberg_conformance(spark, base))
    assert "ICE_MAIN_REF_MISMATCH" in codes
    _mutate(lambda m: m["refs"].update(main={"snapshot-id": m["current-snapshot-id"], "type": "branch"}))
    # red 3: puffin vanishes
    stash = stats_path + ".stash"
    os.rename(stats_path, stash)
    assert "ICE_STATS_FILE_MISSING" in _codes(check_iceberg_conformance(spark, base))
    os.rename(stash, stats_path)
    # red 4: puffin magic corrupted
    raw = open(stats_path, "rb").read()
    open(stats_path, "wb").write(b"XXXX" + raw[4:])
    assert "PUFFIN_LEAD_MAGIC" in _codes(check_iceberg_conformance(spark, base))
    open(stats_path, "wb").write(raw)
    assert check_iceberg_conformance(spark, base).passed


def test_paimon_changelog_conformance(spark, tmp_path):
    """Changelog manifests and data files are checked like the data
    tree: green on channel output, red when a changelog file vanishes."""
    import glob
    import os

    from incubator_xtable_spark.model.conformance import check_paimon_conformance
    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from pyspark.sql import functions as F

    # delta source with a commit -> paimon target with CDC channel
    dbase = str(tmp_path / "delta_src")
    spark.range(0, 5).select(F.col("id").cast("long")).coalesce(1).write.parquet(dbase)
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    ctrl = ConversionController()
    ctrl.sync(
        ParquetConversionSource(spark, dbase, name="t"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, dbase)},
    )
    src = DeltaConversionSource(spark, dbase, emit_row_changes=True)
    pdir = str(tmp_path / "paimon")
    tgt = PaimonConversionTarget(spark, pdir, table_name="t")
    ctrl.sync(src, {TableFormat.PAIMON: tgt})
    spark.range(5, 8).select(F.col("id").cast("long")).coalesce(1).write.mode("append").parquet(dbase)
    ctrl.sync(
        ParquetConversionSource(spark, dbase, name="t"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, dbase)},
    )
    res = ctrl.sync(src, {TableFormat.PAIMON: tgt})
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS
    cls = glob.glob(os.path.join(pdir, "changelog-*.parquet"))
    assert cls  # the channel wrote a changelog
    assert check_paimon_conformance(spark, pdir).passed
    stash = cls[0] + ".stash"
    os.rename(cls[0], stash)
    assert "PAI_CHANGELOG_FILE_MISSING" in _codes(check_paimon_conformance(spark, pdir))
    os.rename(stash, cls[0])
    assert check_paimon_conformance(spark, pdir).passed


def test_hudi_detects_lite_index_missing_dir(table_copy):
    """README 'Hudi metadata-index interop boundary': an advertised
    metadata partition must exist as a LITE parquet-delta dir."""
    shutil.rmtree(os.path.join(table_copy, ".hoodie", "metadata", "files"))
    assert "HUDI_META_INDEX_MISSING" in _codes(check_hudi_conformance(table_copy))


def test_hudi_detects_lite_index_foreign_shape(table_copy):
    """A non-parquet entry (e.g. an HFile) in an advertised partition
    breaks the LITE-shape claim."""
    with open(
        os.path.join(table_copy, ".hoodie", "metadata", "col_stats", "0001.hfile"), "wb"
    ) as fh:
        fh.write(b"HFILEBLK")
    assert "HUDI_META_INDEX_SHAPE" in _codes(check_hudi_conformance(table_copy))


def test_hudi_metadata_indexes_opt_out(spark, tmp_path):
    """HudiConversionTarget(metadata_indexes=False) writes neither the
    partitions flag nor index deltas; the table stays green."""
    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource, read_properties

    base = str(tmp_path / "noidx")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.parquet(base)
    res = ConversionController().sync(
        ParquetConversionSource(spark, base, name="nation"),
        {TableFormat.HUDI: HudiConversionTarget(spark, base, metadata_indexes=False)},
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    props = read_properties(base)
    assert "hoodie.table.metadata.partitions" not in props
    assert not os.path.exists(os.path.join(base, ".hoodie", "metadata"))
    report = check_hudi_conformance(base)
    assert report.passed, [f"{i.code}: {i.detail}" for i in report.issues]
    # source reads via timeline replay, full row parity
    n = HudiConversionSource(spark, base).get_current_snapshot().files.num_rows
    assert n >= 1
