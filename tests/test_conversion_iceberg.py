"""Iceberg conversion differential tests: 4-way read equivalence
(parquet == delta == hudi == iceberg), incremental snapshot chain,
time travel, iceberg -> delta conversion, snapshot-chain safety."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from incubator_xtable_spark.model.avro_codec import read_ocf
from incubator_xtable_spark.model.core import (
    InstantsForIncrementalSync,
    SyncMode,
    SyncStatusCode,
    TableFormat,
)
from incubator_xtable_spark.model.iceberg_manifests import live_entries, snapshot_by_id
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
from incubator_xtable_spark.sources.iceberg_source import (
    IcebergConversionSource,
    read_iceberg_as_df,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
from incubator_xtable_spark.targets.iceberg_target import (
    IcebergConversionTarget,
    current_metadata_version,
    read_table_metadata,
)

from .conftest import SF_SMOKE
from .model_tables import model_rows


def _rows(df, order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


@pytest.fixture()
def source_dir(spark, tmp_path):
    d = str(tmp_path / "ice_table")
    (
        spark.read.parquet(f"{SF_SMOKE}/region.parquet")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def test_four_way_equivalence(spark, source_dir):
    source = ParquetConversionSource(spark, source_dir, name="region")
    targets = {
        TableFormat.DELTA: DeltaConversionTarget(spark, source_dir),
        TableFormat.HUDI: HudiConversionTarget(spark, source_dir, table_name="region"),
        TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region"),
    }
    results = ConversionController().sync(source, targets)
    for fmt, res in results.items():
        assert res.status == SyncStatusCode.SUCCESS, (fmt, res.error)

    order = ["r_regionkey"]
    a = _rows(spark.read.parquet(source_dir), order)
    b = _rows(read_delta_as_df(spark, source_dir), order)
    c = _rows(read_hudi_as_df(spark, source_dir), order)
    d = _rows(read_iceberg_as_df(spark, source_dir), order)
    assert a == b == c == d
    assert len(a) == 5


def test_iceberg_metadata_shape(spark, source_dir):
    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    md = os.path.join(source_dir, "metadata")
    assert os.path.exists(os.path.join(md, "version-hint.text"))
    assert current_metadata_version(source_dir) == 1
    meta = read_table_metadata(source_dir)
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == meta["snapshots"][0]["snapshot-id"]
    # field ids assigned in the schema
    ids = [f["id"] for f in meta["schemas"][0]["fields"]]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    # avro artifacts exist
    snap = meta["snapshots"][0]
    assert os.path.exists(snap["manifest-list"]) and snap["manifest-list"].endswith(".avro")


def test_iceberg_incremental_chain_and_time_travel(spark, source_dir):
    source = ParquetConversionSource(spark, source_dir, name="region")
    target = IcebergConversionTarget(spark, source_dir, table_name="region")
    controller = ConversionController()
    r1 = controller.sync(source, {TableFormat.ICEBERG: target})
    assert r1[TableFormat.ICEBERG].mode == SyncMode.FULL
    meta1 = read_table_metadata(source_dir)
    snap1 = meta1["current-snapshot-id"]

    extra = spark.read.parquet(f"{SF_SMOKE}/region.parquet").withColumn(
        "r_regionkey", F.col("r_regionkey") + 10
    )
    extra.coalesce(1).write.mode("append").parquet(source_dir)
    r2 = controller.sync(source, {TableFormat.ICEBERG: target})
    assert r2[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, r2[TableFormat.ICEBERG].error
    assert r2[TableFormat.ICEBERG].mode == SyncMode.INCREMENTAL

    meta2 = read_table_metadata(source_dir)
    snap2 = meta2["current-snapshot-id"]
    assert snap2 != snap1
    # parent chain intact
    cur = next(s for s in meta2["snapshots"] if s["snapshot-id"] == snap2)
    assert cur["parent-snapshot-id"] == snap1
    # time travel: old snapshot still reads 5 rows, new reads 10
    assert read_iceberg_as_df(spark, source_dir, snapshot_id=snap1).count() == 5
    assert read_iceberg_as_df(spark, source_dir).count() == 10

    # source-side chain walk
    src = IcebergConversionSource(spark, source_dir)
    backlog = src.get_commits_backlog(
        InstantsForIncrementalSync(last_sync_instant=str(snap1))
    )
    assert backlog.commits_to_process == [str(snap2)]
    assert src.is_incremental_sync_safe_from(str(snap1))
    assert not src.is_incremental_sync_safe_from("12345")

    change = src.get_table_change_for_commit(str(snap2))
    assert change.files_added.num_rows == 1
    assert change.files_removed.num_rows == 0


def test_iceberg_to_delta_conversion(spark, source_dir, tmp_path):
    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    mirror = str(tmp_path / "delta_mirror")
    os.makedirs(mirror, exist_ok=True)
    res = ConversionController().sync(
        IcebergConversionSource(spark, source_dir),
        {TableFormat.DELTA: DeltaConversionTarget(spark, mirror)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error
    assert _rows(read_delta_as_df(spark, mirror), ["r_regionkey"]) == _rows(
        read_iceberg_as_df(spark, source_dir), ["r_regionkey"]
    )


def test_iceberg_stats_roundtrip_to_delta(spark, source_dir, tmp_path):
    """Footer stats -> iceberg manifest bounds (binary single-value
    serialization) -> parsed back -> delta stats JSON: full stats chain."""
    import json as _json

    from incubator_xtable_spark.sources.delta_source import live_adds

    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    # manifest carries bounds keyed by field id
    src = IcebergConversionSource(spark, source_dir)
    snap = src.get_current_snapshot()
    inv = model_rows(snap.files)
    assert any(r["column_stats"] for r in inv), "no stats parsed from manifests"
    st = next(r["column_stats"] for r in inv if r["column_stats"])
    assert "r_regionkey" in st and st["r_regionkey"]["min_json"] is not None

    # iceberg -> delta mirror: stats survive into delta add.stats JSON
    mirror = str(tmp_path / "stats_mirror")
    os.makedirs(mirror, exist_ok=True)
    ConversionController().sync(
        src, {TableFormat.DELTA: DeltaConversionTarget(spark, mirror)}
    )
    live = list(live_adds(mirror).values())
    stats = _json.loads(live[0]["stats"])
    assert stats["minValues"]["r_regionkey"] >= 0
    assert stats["maxValues"]["r_regionkey"] <= 4
    assert stats["nullCount"]["r_regionkey"] == 0
    # global min/max across files must match the actual data
    all_mins = [_json.loads(r["stats"])["minValues"]["r_regionkey"] for r in live]
    all_maxs = [_json.loads(r["stats"])["maxValues"]["r_regionkey"] for r in live]
    assert min(all_mins) == 0 and max(all_maxs) == 4


def test_chunked_manifests_roundtrip(spark, tmp_path, monkeypatch):
    """With MANIFEST_CHUNK smaller than the file count, a commit fans out
    into multiple manifests in one manifest list and reads back whole."""
    from incubator_xtable_spark.model.core import TableFormat as TF
    from incubator_xtable_spark.sources.iceberg_source import (
        IcebergConversionSource,
        read_iceberg_as_df,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    from .conftest import SF_SMOKE

    d = str(tmp_path / "chunked")
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .repartition(7)
        .write.mode("overwrite")
        .parquet(d)
    )
    monkeypatch.setattr(IcebergConversionTarget, "MANIFEST_CHUNK", 3)
    source = ParquetConversionSource(spark, d, name="nation")
    target = IcebergConversionTarget(spark, d, table_name="nation")
    res = ConversionController().sync(source, {TF.ICEBERG: target})
    assert res[TF.ICEBERG].status.value == "SUCCESS", res[TF.ICEBERG].error

    src = IcebergConversionSource(spark, d)
    meta = src._meta()
    snap = snapshot_by_id(meta, meta["current-snapshot-id"])
    manifests = read_ocf(snap["manifest-list"])[0]
    assert len(manifests) >= 3  # 7 files / chunk of 3
    assert sum(m["added_files_count"] for m in manifests) == 7
    assert read_iceberg_as_df(spark, d).count() == 25


def test_name_mapping_property_written(spark, tmp_path):
    """Converted tables advertise schema.name-mapping.default so id-based
    engines resolve the field-id-less parquet
    (IcebergTableManager.java:1-126)."""
    import json as _json

    from incubator_xtable_spark.model.core import TableFormat as TF
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.iceberg_target import (
        NAME_MAPPING_PROP,
        IcebergConversionTarget,
        read_table_metadata,
    )

    from .conftest import SF_SMOKE

    d = str(tmp_path / "nm")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").write.mode("overwrite").parquet(d)
    source = ParquetConversionSource(spark, d, name="nation")
    target = IcebergConversionTarget(spark, d, table_name="nation")
    res = ConversionController().sync(source, {TF.ICEBERG: target})
    assert res[TF.ICEBERG].status.value == "SUCCESS", res[TF.ICEBERG].error

    meta = read_table_metadata(d)
    mapping = _json.loads(meta["properties"][NAME_MAPPING_PROP])
    schema_fields = meta["schemas"][0]["fields"]
    # every schema field id is mapped to its name
    by_id = {e["field-id"]: e["names"] for e in mapping}
    for f in schema_fields:
        assert f["name"] in by_id[f["id"]]


def test_name_mapping_nested_and_storage_names():
    """Nested element/key/value ids map; Delta column-mapping storage
    names map alongside logical names."""
    from pyspark.sql import types as T

    from incubator_xtable_spark.model.schema_meta import FIELD_ID, STORAGE_NAME
    from incubator_xtable_spark.targets.iceberg_target import (
        name_mapping_json,
        schema_to_iceberg_fields,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False, {FIELD_ID: 1, STORAGE_NAME: "col-abc123"}),
            T.StructField(
                "tags",
                T.ArrayType(
                    T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.StringType())])
                ),
                True,
            ),
            T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType()), True),
        ]
    )
    mapping = name_mapping_json(schema)
    by_name = {e["names"][-1]: e for e in mapping}
    assert by_name["id"]["names"] == ["col-abc123", "id"]
    tags = by_name["tags"]
    assert tags["fields"][0]["names"] == ["element"]
    elem_fields = {f["names"][0] for f in tags["fields"][0]["fields"]}
    assert elem_fields == {"k", "v"}
    attrs = by_name["attrs"]
    assert [f["names"] for f in attrs["fields"]] == [["key"], ["value"]]
    # ids in the mapping agree with the schema export
    fields = schema_to_iceberg_fields(schema)
    t = next(f for f in fields if f["name"] == "tags")["type"]
    assert tags["fields"][0]["field-id"] == t["element-id"]


def test_transform_partition_values_are_spec_native(spark, tmp_path):
    """DAY/BUCKET partition specs write Iceberg-native manifest values
    (days-since-epoch / bucket ordinal ints), and the source converts
    them back to the engine's partition strings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import (
        FILE_INVENTORY_ARROW,
        InternalPartitionField,
        InternalTable,
        PartitionTransformType,
        TableFormat,
        arrow_table,
    )
    from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
    from pyspark.sql import types as T

    d = str(tmp_path / "ice_day")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, "f1.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), fp)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    pfs = [
        InternalPartitionField(
            source_field="ts",
            transform=PartitionTransformType.DAY,
            partition_field_name="ts_day",
        ),
        InternalPartitionField(
            source_field="id",
            transform=PartitionTransformType.BUCKET,
            partition_field_name="id_bucket",
            num_buckets=4,
        ),
    ]
    table = InternalTable(
        name="ice_day",
        table_format=TableFormat.PARQUET,
        base_path=d,
        read_schema=schema,
        partition_fields=pfs,
    )
    inv = arrow_table(
        [(fp, "PARQUET", os.path.getsize(fp), 2, None, {"ts_day": "2024-03-01", "id_bucket": "3"}, None)],
        FILE_INVENTORY_ARROW,
    )
    target = IcebergConversionTarget(spark, d, table_name="ice_day")
    target.begin_sync(table)
    target.sync_metadata(TableSyncMetadata(last_instant_synced="1"))
    target.sync_schema(schema)
    target.sync_partition_spec(pfs)
    target.sync_files_for_snapshot(inv)
    target.complete_sync()

    src = IcebergConversionSource(spark, d)
    meta = src._meta()
    entries = live_entries(meta, meta["current-snapshot-id"])[0]
    part = entries[0]["data_file"]["partition"]
    assert part["ts_day"] == 19783  # days since epoch for 2024-03-01
    assert part["id_bucket"] == 3
    # and the inventory strings round-trip
    f = model_rows(src.get_current_snapshot().files)[0]
    assert f["partition_values"] == {"ts_day": "2024-03-01", "id_bucket": "3"}
    t = src.get_current_table()
    assert {pf.output_name: pf.transform.value for pf in t.partition_fields} == {
        "ts_day": "DAY",
        "id_bucket": "BUCKET",
    }


def test_refs_and_metadata_log(spark, tmp_path):
    """Spec completeness: the target maintains the main branch ref and
    the metadata-log chain; readers resolve branch/tag names, and
    conversions can sync FROM a tag (stable historical head)."""
    import json
    import os

    import pyspark.sql.functions as F

    from incubator_xtable_spark.sources.iceberg_source import (
        IcebergConversionSource,
        read_iceberg_as_df,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.iceberg_target import (
        IcebergConversionTarget,
        current_metadata_version,
        metadata_dir,
        read_table_metadata,
    )

    d = str(tmp_path / "refs")
    df = spark.range(0, 8).select(F.col("id").cast("long"))
    df.coalesce(1).write.parquet(d)
    source = ParquetConversionSource(spark, d, name="refs")
    target = IcebergConversionTarget(spark, d, table_name="refs")
    ctrl = ConversionController()
    ctrl.sync(source, {TableFormat.ICEBERG: target})
    meta1 = read_table_metadata(d)
    first_sid = meta1["current-snapshot-id"]
    assert meta1["refs"]["main"] == {"snapshot-id": first_sid, "type": "branch"}
    assert meta1["metadata-log"] == []  # no previous metadata at creation

    # tag the first snapshot the way an external writer would, then commit more
    v = current_metadata_version(d)
    meta1["refs"]["v1-audit"] = {"snapshot-id": first_sid, "type": "tag"}
    with open(os.path.join(metadata_dir(d), f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta1, fh)
    df.withColumn("id", F.col("id") + 100).coalesce(1).write.mode("append").parquet(d)
    ctrl.sync(source, {TableFormat.ICEBERG: target})

    meta2 = read_table_metadata(d)
    # main advanced; the foreign tag survived; metadata-log chains back
    assert meta2["refs"]["main"]["snapshot-id"] == meta2["current-snapshot-id"]
    assert meta2["refs"]["v1-audit"]["snapshot-id"] == first_sid
    assert [e["metadata-file"].endswith(f"v{v}.metadata.json") for e in meta2["metadata-log"]] == [True]

    # ref-resolved reads: the tag sees 8 rows, main sees 16
    assert read_iceberg_as_df(spark, d, ref="v1-audit").count() == 8
    assert read_iceberg_as_df(spark, d, ref="main").count() == 16
    # conversion FROM the tag: snapshot is the tagged head
    src_tag = IcebergConversionSource(spark, d, ref="v1-audit")
    assert src_tag.get_current_snapshot().version == str(first_sid)
    import pytest

    with pytest.raises(ValueError, match="no branch/tag"):
        read_iceberg_as_df(spark, d, ref="nope")


def test_partition_spec_evolution_guard(spark, tmp_path):
    """r6: manifests under a non-default spec now RESOLVE against their
    own spec (per-spec resolution, exceeding the reference's silent
    current-spec mis-map); only a spec id missing from
    metadata.json partition-specs still refuses loudly."""
    import json
    import os

    import pytest
    import pyspark.sql.functions as F

    from incubator_xtable_spark.sources.iceberg_source import (
        IcebergConversionSource,
        read_iceberg_as_df,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.iceberg_target import (
        IcebergConversionTarget,
        current_metadata_version,
        metadata_dir,
        read_table_metadata,
    )

    d = str(tmp_path / "specs")
    spark.range(0, 6).select(F.col("id").cast("long")).coalesce(1).write.parquet(d)
    ConversionController().sync(
        ParquetConversionSource(spark, d, name="specs"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, d, table_name="specs")},
    )
    # simulate spec evolution: bump the default spec, leaving the
    # existing manifest tagged with the old spec id
    meta = read_table_metadata(d)
    meta["partition-specs"].append({"spec-id": 1, "fields": []})
    meta["default-spec-id"] = 1
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    mfs = read_ocf(snap["manifest-list"])[0]
    assert all(m.get("partition_spec_id") == 0 for m in mfs)
    v = current_metadata_version(d)
    with open(os.path.join(metadata_dir(d), f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    # benign evolution (no partition fields either side) resolves fine
    assert sorted(r["id"] for r in read_iceberg_as_df(spark, d).collect()) == list(range(6))
    assert IcebergConversionSource(spark, d).get_current_snapshot().files.num_rows == 1

    # a spec id metadata.json does not know is still a loud error
    meta = read_table_metadata(d)
    meta["partition-specs"] = [s for s in meta["partition-specs"] if s.get("spec-id", 0) != 0]
    with open(os.path.join(metadata_dir(d), f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="not in metadata.json partition-specs"):
        IcebergConversionSource(spark, d).get_current_snapshot()


# -- catalog-layout metadata discovery (no version-hint.text) -----------------


def _to_catalog_layout(base: str) -> dict[str, str]:
    """Rewrite a HadoopTables metadata tree into the CATALOG layout real
    Spark/REST/Glue writers produce: ``{NNNNN}-{uuid}.metadata.json``
    names, metadata-log entries referencing those names, and NO
    version-hint.text. -> {old name: new name}."""
    import re as _re
    import uuid as _uuid

    md = os.path.join(base, "metadata")
    mapping = {}
    for name in os.listdir(md):
        m = _re.match(r"^v(\d+)\.metadata\.json$", name)
        if m:
            mapping[name] = f"{int(m.group(1)):05d}-{_uuid.uuid4()}.metadata.json"
    for old, new in mapping.items():
        with open(os.path.join(md, old), encoding="utf-8") as fh:
            meta = json.load(fh)
        for e in meta.get("metadata-log") or []:
            b = os.path.basename(e.get("metadata-file") or "")
            if b in mapping:
                e["metadata-file"] = os.path.join(md, mapping[b])
        with open(os.path.join(md, new), "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
        os.unlink(os.path.join(md, old))
    os.unlink(os.path.join(md, "version-hint.text"))
    return mapping


def test_catalog_layout_resolves_and_converts(spark, source_dir, tmp_path):
    """A catalog-written Iceberg table (00001-<uuid>.metadata.json, no
    version-hint file) must resolve and convert — full AND incremental —
    exactly like the HadoopTables layout (ref
    iceberg/IcebergConversionSource.java:90-199 loads via
    HadoopTables/catalog; filesystem-only we resolve by metadata-log
    chain + embedded sequence/timestamp)."""
    source = ParquetConversionSource(spark, source_dir, name="region")
    target = IcebergConversionTarget(spark, source_dir, table_name="region")
    controller = ConversionController()
    controller.sync(source, {TableFormat.ICEBERG: target})
    snap1 = read_table_metadata(source_dir)["current-snapshot-id"]
    extra = spark.read.parquet(f"{SF_SMOKE}/region.parquet").withColumn(
        "r_regionkey", F.col("r_regionkey") + 10
    )
    extra.coalesce(1).write.mode("append").parquet(source_dir)
    controller.sync(source, {TableFormat.ICEBERG: target})
    before = read_table_metadata(source_dir)
    v_before = current_metadata_version(source_dir)

    _to_catalog_layout(source_dir)

    # resolution: same head, version number carried by the name prefix
    after = read_table_metadata(source_dir)
    assert after is not None, "catalog layout must resolve without a hint file"
    assert after["current-snapshot-id"] == before["current-snapshot-id"]
    assert current_metadata_version(source_dir) == v_before

    # full conversion of the catalog-layout table
    src = IcebergConversionSource(spark, source_dir)
    mirror = str(tmp_path / "delta_mirror")
    os.makedirs(mirror, exist_ok=True)
    res = ConversionController().sync(
        src, {TableFormat.DELTA: DeltaConversionTarget(spark, mirror)}
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error
    assert _rows(read_delta_as_df(spark, mirror), ["r_regionkey"]) == _rows(
        read_iceberg_as_df(spark, source_dir), ["r_regionkey"]
    )

    # incremental: backlog + safety + per-commit diff all walk the chain
    assert src.is_incremental_sync_safe_from(str(snap1))
    backlog = src.get_commits_backlog(
        InstantsForIncrementalSync(last_sync_instant=str(snap1))
    )
    assert backlog.commits_to_process == [str(before["current-snapshot-id"])]

    # an ENGINE commit lands on top of the catalog layout, continuing the
    # version sequence — and the resolver then prefers the new head
    extra2 = spark.read.parquet(f"{SF_SMOKE}/region.parquet").withColumn(
        "r_regionkey", F.col("r_regionkey") + 20
    )
    extra2.coalesce(1).write.mode("append").parquet(source_dir)
    r3 = controller.sync(source, {TableFormat.ICEBERG: target})
    assert r3[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, r3[TableFormat.ICEBERG].error
    meta3 = read_table_metadata(source_dir)
    assert meta3["current-snapshot-id"] != before["current-snapshot-id"]
    assert current_metadata_version(source_dir) == v_before + 1
    assert read_iceberg_as_df(spark, source_dir).count() == 15


def test_catalog_layout_conformance_green(spark, source_dir):
    """The conformance layer must resolve a hint-less catalog-layout head
    through the same chain rules (name-order would mis-pick on mixed
    trees) and report the table clean."""
    from incubator_xtable_spark.model.conformance import check_iceberg_conformance

    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    _to_catalog_layout(source_dir)
    report = check_iceberg_conformance(spark, source_dir)
    assert report.passed, report.issues


def test_catalog_layout_orphan_loses_to_committed_head(spark, source_dir):
    """A leftover metadata file from a FAILED commit attempt (highest
    name prefix, but stale embedded sequence/timestamp and absent from
    every metadata-log) must NOT be picked over the committed head —
    name ordering alone would choose it."""
    source = ParquetConversionSource(spark, source_dir, name="region")
    target = IcebergConversionTarget(spark, source_dir, table_name="region")
    controller = ConversionController()
    controller.sync(source, {TableFormat.ICEBERG: target})
    extra = spark.read.parquet(f"{SF_SMOKE}/region.parquet").withColumn(
        "r_regionkey", F.col("r_regionkey") + 10
    )
    extra.coalesce(1).write.mode("append").parquet(source_dir)
    controller.sync(source, {TableFormat.ICEBERG: target})
    head_snap = read_table_metadata(source_dir)["current-snapshot-id"]
    mapping = _to_catalog_layout(source_dir)

    # orphan: the SUPERSEDED v1 state under the highest-sorting name
    md = os.path.join(source_dir, "metadata")
    old_v1 = next(new for old, new in mapping.items() if old == "v1.metadata.json")
    with open(os.path.join(md, old_v1), encoding="utf-8") as fh:
        stale = json.load(fh)
    with open(
        os.path.join(md, "99999-00000000-dead-beef-0000-000000000000.metadata.json"),
        "w",
        encoding="utf-8",
    ) as fh:
        json.dump(stale, fh)

    assert read_table_metadata(source_dir)["current-snapshot-id"] == head_snap


# -- sort-order passthrough (r10) ---------------------------------------------


def _declare_sort_order(base: str, column: str = "r_regionkey") -> None:
    """Simulate a foreign writer that declared a write sort order: edit
    the head metadata to carry a desc/nulls-last identity order on
    ``column`` (order-id 1)."""
    md = os.path.join(base, "metadata")
    with open(os.path.join(md, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    p = os.path.join(md, f"v{v}.metadata.json")
    with open(p, encoding="utf-8") as fh:
        meta = json.load(fh)
    schema = next(
        s for s in meta["schemas"] if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
    )
    fid = next(f["id"] for f in schema["fields"] if f["name"] == column)
    meta["sort-orders"] = [
        {"order-id": 0, "fields": []},
        {
            "order-id": 1,
            "fields": [
                {
                    "transform": "identity",
                    "source-id": fid,
                    "direction": "desc",
                    "null-order": "nulls-last",
                }
            ],
        },
    ]
    meta["default-sort-order-id"] = 1
    with open(p, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)


def test_sort_order_carried_to_iceberg_target(spark, source_dir, tmp_path):
    """A declared write sort order converts with the clustering contract
    intact: the mirror's default sort order has the same member shape
    with source-ids remapped into the mirror's own field ids, across
    full AND incremental syncs (spec "Sort Orders"; the reference drops
    declared orders)."""
    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    _declare_sort_order(source_dir)

    src = IcebergConversionSource(spark, source_dir)
    table = src.get_current_table()
    assert [
        (sf.source_field, sf.transform, sf.direction, sf.null_order)
        for sf in table.sort_order
    ] == [("r_regionkey", "identity", "desc", "nulls-last")]

    mirror = str(tmp_path / "ice_mirror")
    os.makedirs(mirror, exist_ok=True)
    mt = IcebergConversionTarget(spark, mirror, table_name="region")
    ctrl = ConversionController()
    res = ctrl.sync(src, {TableFormat.ICEBERG: mt})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res[TableFormat.ICEBERG].error

    def _assert_order(meta):
        assert meta["default-sort-order-id"] == 1
        order = next(o for o in meta["sort-orders"] if o["order-id"] == 1)
        [f] = order["fields"]
        schema = next(
            s for s in meta["schemas"] if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
        )
        fid = next(x["id"] for x in schema["fields"] if x["name"] == "r_regionkey")
        assert f == {
            "transform": "identity",
            "source-id": fid,
            "direction": "desc",
            "null-order": "nulls-last",
        }

    _assert_order(read_table_metadata(mirror))

    # incremental sync keeps the declared order
    extra = spark.read.parquet(f"{SF_SMOKE}/region.parquet").withColumn(
        "r_regionkey", F.col("r_regionkey") + 10
    )
    extra.coalesce(1).write.mode("append").parquet(source_dir)
    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    _declare_sort_order(source_dir)  # the engine's own commit resets to unsorted
    res2 = ctrl.sync(IcebergConversionSource(spark, source_dir), {TableFormat.ICEBERG: mt})
    assert res2[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res2[TableFormat.ICEBERG].error
    meta2 = read_table_metadata(mirror)
    _assert_order(meta2)

    # conformance green on the sorted mirror, red on injected corruption
    from incubator_xtable_spark.model.conformance import check_iceberg_conformance

    report = check_iceberg_conformance(spark, mirror)
    assert report.passed, [f"{i.code}: {i.detail}" for i in report.issues]

    md = os.path.join(mirror, "metadata")
    with open(os.path.join(md, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    p = os.path.join(md, f"v{v}.metadata.json")
    meta_c = json.load(open(p))
    meta_c["default-sort-order-id"] = 7
    json.dump(meta_c, open(p, "w"))
    codes = {i.code for i in check_iceberg_conformance(spark, mirror).issues}
    assert "ICE_SORT_ORDER_DEFAULT" in codes

    meta_c["default-sort-order-id"] = 1
    next(o for o in meta_c["sort-orders"] if o["order-id"] == 1)["fields"][0][
        "source-id"
    ] = 999999
    json.dump(meta_c, open(p, "w"))
    codes = {i.code for i in check_iceberg_conformance(spark, mirror).issues}
    assert "ICE_SORT_SOURCE_ID" in codes


def test_catalog_layout_gzip_metadata_resolves(spark, source_dir, tmp_path):
    """write.metadata.compression=gzip names files
    <v>-<uuid>.gz.metadata.json and gzips the payload — resolution and
    reads must sniff the magic and decompress (both naming schemes)."""
    import gzip as _gzip
    import uuid as _uuid

    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    before = read_table_metadata(source_dir)
    md = os.path.join(source_dir, "metadata")
    # re-encode every metadata file gzipped under catalog-style names
    import re as _re

    for name in list(os.listdir(md)):
        m = _re.match(r"^v(\d+)\.metadata\.json$", name)
        if not m:
            continue
        with open(os.path.join(md, name), "rb") as fh:
            raw = fh.read()
        new = f"{int(m.group(1)):05d}-{_uuid.uuid4()}.gz.metadata.json"
        with open(os.path.join(md, new), "wb") as fh:
            fh.write(_gzip.compress(raw))
        os.unlink(os.path.join(md, name))
    os.unlink(os.path.join(md, "version-hint.text"))

    after = read_table_metadata(source_dir)
    assert after is not None and after["current-snapshot-id"] == before["current-snapshot-id"]
    assert current_metadata_version(source_dir) == 1
    # full read + conversion still work
    assert read_iceberg_as_df(spark, source_dir).count() == 5
    mirror = str(tmp_path / "gz_mirror")
    os.makedirs(mirror, exist_ok=True)
    res = ConversionController().sync(
        IcebergConversionSource(spark, source_dir),
        {TableFormat.DELTA: DeltaConversionTarget(spark, mirror)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error
    assert read_delta_as_df(spark, mirror).count() == 5
    # conformance reads the gzipped head cleanly
    from incubator_xtable_spark.model.conformance import check_iceberg_conformance

    report = check_iceberg_conformance(spark, source_dir)
    assert report.passed, [f"{i.code}: {i.detail}" for i in report.issues]


def test_metadata_log_bounded_and_optionally_deleted(spark, source_dir):
    """write.metadata.previous-versions-max bounds the metadata-log (one
    entry per commit forever otherwise) and
    write.metadata.delete-after-commit.enabled unlinks the dropped files
    once the new version lands — spec table properties."""
    source = ParquetConversionSource(spark, source_dir, name="region")
    target = IcebergConversionTarget(spark, source_dir, table_name="region")
    ctrl = ConversionController()
    ctrl.sync(source, {TableFormat.ICEBERG: target})
    md = os.path.join(source_dir, "metadata")
    # inject the properties on the head (they carry forward per commit)
    with open(os.path.join(md, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    p = os.path.join(md, f"v{v}.metadata.json")
    meta = json.load(open(p))
    meta.setdefault("properties", {})["write.metadata.previous-versions-max"] = "2"
    meta["properties"]["write.metadata.delete-after-commit.enabled"] = "true"
    json.dump(meta, open(p, "w"))

    src_df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    for i in range(4):
        src_df.withColumn("r_regionkey", F.col("r_regionkey") + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(source_dir)
        res = ctrl.sync(source, {TableFormat.ICEBERG: target})
        assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS

    head = read_table_metadata(source_dir)
    log_entries = head["metadata-log"]
    assert len(log_entries) == 2, log_entries
    # the tracked previous versions exist; older ones were unlinked
    for e in log_entries:
        assert os.path.exists(e["metadata-file"])
    assert not os.path.exists(os.path.join(md, "v1.metadata.json"))
    assert not os.path.exists(os.path.join(md, "v2.metadata.json"))
    # table still reads and resolves normally
    assert read_iceberg_as_df(spark, source_dir).count() == 25


def test_sort_order_evolution_appends_new_id(spark, source_dir, tmp_path):
    """Sort orders are append-only definitions: a CHANGED source order
    appends the next order-id (prior ids keep their meaning — data
    files may record sort_order_id), an identical one reuses its id."""
    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    _declare_sort_order(source_dir, column="r_regionkey")
    mirror = str(tmp_path / "ice_mirror_evo")
    os.makedirs(mirror, exist_ok=True)
    mt = IcebergConversionTarget(spark, mirror, table_name="region")
    ctrl = ConversionController()
    ctrl.sync(IcebergConversionSource(spark, source_dir), {TableFormat.ICEBERG: mt})
    m1 = read_table_metadata(mirror)
    assert m1["default-sort-order-id"] == 1

    # source order changes to a different column -> next id appended
    extra = spark.read.parquet(f"{SF_SMOKE}/region.parquet").withColumn(
        "r_regionkey", F.col("r_regionkey") + 10
    )
    extra.coalesce(1).write.mode("append").parquet(source_dir)
    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    _declare_sort_order(source_dir, column="r_name")
    res = ctrl.sync(IcebergConversionSource(spark, source_dir), {TableFormat.ICEBERG: mt})
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res[TableFormat.ICEBERG].error
    m2 = read_table_metadata(mirror)
    assert m2["default-sort-order-id"] == 2
    ids = sorted(o["order-id"] for o in m2["sort-orders"])
    assert ids == [0, 1, 2]
    # order 1 kept its ORIGINAL definition (r_regionkey), order 2 is r_name
    schema = next(
        s for s in m2["schemas"] if s.get("schema-id", 0) == m2.get("current-schema-id", 0)
    )
    fid_key = next(x["id"] for x in schema["fields"] if x["name"] == "r_regionkey")
    fid_name = next(x["id"] for x in schema["fields"] if x["name"] == "r_name")
    o1 = next(o for o in m2["sort-orders"] if o["order-id"] == 1)
    o2 = next(o for o in m2["sort-orders"] if o["order-id"] == 2)
    assert o1["fields"][0]["source-id"] == fid_key
    assert o2["fields"][0]["source-id"] == fid_name


def test_torn_gzip_candidate_skipped(spark, source_dir):
    """A truncated gzip metadata candidate (crashed writer: magic bytes
    present, payload torn) must be SKIPPED during head resolution, not
    crash every read of the table."""
    import gzip as _gzip

    ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, source_dir, table_name="region")},
    )
    head_snap = read_table_metadata(source_dir)["current-snapshot-id"]
    mapping = _to_catalog_layout(source_dir)
    md = os.path.join(source_dir, "metadata")
    # torn candidate that sorts after everything: gzip magic + garbage
    good = _gzip.compress(b'{"x": 1}')
    with open(
        os.path.join(md, "99999-aaaaaaaa-0000-0000-0000-000000000000.gz.metadata.json"),
        "wb",
    ) as fh:
        fh.write(good[: len(good) // 2])
    meta = read_table_metadata(source_dir)
    assert meta is not None and meta["current-snapshot-id"] == head_snap
    from incubator_xtable_spark.model.conformance import check_iceberg_conformance

    report = check_iceberg_conformance(spark, source_dir)
    assert report.passed, [f"{i.code}: {i.detail}" for i in report.issues]


def test_superseded_version_hint_yields_to_catalog_commit(spark, source_dir):
    """ADVICE r10 mixed-writer interop: once the engine commits on a
    catalog-written table it creates a version-hint, but a LATER
    catalog-layout commit never updates that hint. Trusting a superseded
    hint would silently shadow the catalog commit (and the next engine
    commit would orphan it) — the hint short-circuits only while the
    hinted file is not referenced in any newer candidate's metadata-log."""
    import uuid as _uuid

    from incubator_xtable_spark.targets.iceberg_target import (
        resolve_current_metadata_path,
    )

    source = ParquetConversionSource(spark, source_dir, name="region")
    target = IcebergConversionTarget(spark, source_dir, table_name="region")
    ConversionController().sync(source, {TableFormat.ICEBERG: target})
    md = os.path.join(source_dir, "metadata")
    v = current_metadata_version(source_dir)
    hinted = os.path.join(md, f"v{v}.metadata.json")
    assert resolve_current_metadata_path(source_dir) == hinted
    with open(hinted, encoding="utf-8") as fh:
        head_meta = json.load(fh)

    # an ORPHANED catalog candidate (references nothing, stale clock)
    # must NOT displace a live hint on a mixed tree
    orphan = dict(head_meta)
    orphan["metadata-log"] = []
    orphan["last-updated-ms"] = int(head_meta.get("last-updated-ms") or 0) - 1
    with open(
        os.path.join(md, f"{v:05d}-{_uuid.uuid4()}.metadata.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump(orphan, fh)
    assert resolve_current_metadata_path(source_dir) == hinted

    # a catalog writer commits ON TOP of the hinted head: higher
    # timestamp, metadata-log referencing the hinted file, hint untouched
    cat = dict(head_meta)
    cat["properties"] = dict(head_meta.get("properties") or {}, **{"catalog.writer": "true"})
    cat["last-updated-ms"] = int(head_meta.get("last-updated-ms") or 0) + 60_000
    cat["metadata-log"] = (head_meta.get("metadata-log") or []) + [
        {
            "timestamp-ms": int(head_meta.get("last-updated-ms") or 0),
            "metadata-file": hinted,
        }
    ]
    cat_name = f"{v + 1:05d}-{_uuid.uuid4()}.metadata.json"
    with open(os.path.join(md, cat_name), "w", encoding="utf-8") as fh:
        json.dump(cat, fh)

    resolved = resolve_current_metadata_path(source_dir)
    assert os.path.basename(resolved) == cat_name, resolved
    assert read_table_metadata(source_dir)["properties"]["catalog.writer"] == "true"
    # the next engine commit continues from the catalog head's version
    assert current_metadata_version(source_dir) == v + 1
