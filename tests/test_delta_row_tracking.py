"""Delta Row Tracking (PROTOCOL.md "Row Tracking", writer table feature
`rowTracking` over `domainMetadata`): fresh row-id assignment from the
delta.rowTracking high watermark, disjoint ranges across commits, stable
ids across deletion-vector re-adds, the `_row_id` read surface, and
red-proven conformance.

Reference anchor: the reference has no row-id concept (its Delta target
writes plain adds); row tracking is a Delta-spec feature beyond the
reference that gives converted tables stable row identity — the
substrate CDC/merge engines key on.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from incubator_xtable_spark.model.conformance import check_delta_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import (
    live_domain_metadata,
    live_adds,
    read_delta_as_df,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from .conftest import SF_SMOKE


@pytest.fixture()
def source_dir(spark, tmp_path):
    d = str(tmp_path / "rt_src")
    (
        spark.read.parquet(f"{SF_SMOKE}/region.parquet")
        .repartition(2)
        .write.parquet(d)
    )
    return d


def _sync(spark, source_dir: str, **kw):
    source = ParquetConversionSource(spark, source_dir, name="region")
    target = DeltaConversionTarget(spark, source_dir, **kw)
    res = ConversionController().sync(source, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, (
        res[TableFormat.DELTA].error
    )


def _append_rows(spark, source_dir: str, shift: int) -> None:
    (
        spark.read.parquet(f"{SF_SMOKE}/region.parquet")
        .withColumn("r_regionkey", F.col("r_regionkey") + shift)
        .coalesce(1)
        .write.mode("append")
        .parquet(source_dir)
    )


def test_row_tracking_assignment_and_read(spark, source_dir):
    _sync(spark, source_dir, row_tracking=True)
    _append_rows(spark, source_dir, 100)
    _sync(spark, source_dir, row_tracking=True)

    live = list(live_adds(source_dir).values())
    assert all(r["baseRowId"] is not None for r in live)
    # disjoint ranges covering exactly [0, total)
    def n_records(r):
        return json.loads(r["stats"])["numRecords"]

    ranges = sorted((r["baseRowId"], r["baseRowId"] + n_records(r)) for r in live)
    assert ranges[0][0] == 0
    for (b1, e1), (b2, e2) in zip(ranges, ranges[1:]):
        assert b2 >= e1, ranges
    total = sum(e - b for b, e in ranges)
    assert total == 10

    # high watermark covers every assigned id
    hwm = json.loads(live_domain_metadata(source_dir)["delta.rowTracking"])[
        "rowIdHighWaterMark"
    ]
    assert hwm == max(e for _, e in ranges) - 1

    # second-commit files got ids ABOVE the first commit's watermark
    v2_files = [r for r in live if r["defaultRowCommitVersion"] == 1]
    assert v2_files and all(r["baseRowId"] > 4 for r in v2_files)

    # read surface: _row_id is unique and dense over the live rows
    df = read_delta_as_df(spark, source_dir, with_row_ids=True)
    rows = df.select("_row_id", "r_regionkey").collect()
    ids = sorted(r["_row_id"] for r in rows)
    assert ids == list(range(10))

    report = check_delta_conformance(spark, source_dir)
    assert not [i for i in report.issues if i.code.startswith("DELTA_ROW_TRACKING")], (
        report.issues
    )

    proto_lines = []
    with open(os.path.join(source_dir, "_delta_log", f"{0:020d}.json")) as fh:
        proto_lines = [json.loads(l) for l in fh if '"protocol"' in l]
    wf = proto_lines[0]["protocol"]["writerFeatures"]
    assert "rowTracking" in wf and "domainMetadata" in wf


def test_row_ids_disjoint_across_log_compaction(spark, tmp_path):
    """compaction_interval=2: each compacted range carries the latest
    delta.rowTracking domainMetadata, so the high watermark survives the
    compacted head and every sync draws a fresh baseRowId range."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "rt_compact")
    os.makedirs(d)
    for i in range(4):
        ids = pa.array([2 * i, 2 * i + 1], pa.int64())
        pq.write_table(pa.table({"id": ids}), f"{d}/f-{i}.parquet")
        _sync(spark, d, row_tracking=True, compaction_interval=2, checkpoint_interval=0)
    log = os.listdir(os.path.join(d, "_delta_log"))
    assert len([f for f in log if f.endswith(".compacted.json")]) == 2
    base = {os.path.basename(p): a["baseRowId"] for p, a in live_adds(d).items()}
    assert base == {"f-0.parquet": 0, "f-1.parquet": 2, "f-2.parquet": 4, "f-3.parquet": 6}
    hwm = json.loads(live_domain_metadata(d)["delta.rowTracking"])["rowIdHighWaterMark"]
    assert hwm == 7


def test_row_ids_stable_across_dv_update(spark, source_dir, tmp_path):
    """A deletion-vector re-add must keep its original baseRowId: survivors'
    row ids do not move when rows are deleted (spec stability rule)."""
    _sync(spark, source_dir, row_tracking=True)
    before = {
        r["r_regionkey"]: r["_row_id"]
        for r in read_delta_as_df(spark, source_dir, with_row_ids=True).collect()
    }

    # delete r_regionkey == 2 via the row-delete channel (the
    # positions-parquet contract from test_row_delete_conversion): the
    # target writes a REAL DV remove+re-add for the victim's file
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import (
        FILE_INVENTORY_ARROW,
        ROW_DELETES_ARROW,
        TableChange,
        arrow_table,
    )
    from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource

    # locate the physical position of key 2 in its file
    tagged = read_delta_as_df(spark, source_dir).withColumns(
        {
            "_fp": F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", ""),
            "_ri": F.col("_metadata.row_index"),
        }
    )
    victim = tagged.filter(F.col("r_regionkey") == 2).collect()[0]
    pos_path = str(tmp_path / "victim-pos.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([victim["_fp"]], pa.string()),
                "pos": pa.array([victim["_ri"]], pa.int64()),
            }
        ),
        pos_path,
    )

    src = DeltaConversionSource(spark, source_dir)
    table = src.get_current_table()
    target = DeltaConversionTarget(spark, source_dir, row_tracking=True)
    target.begin_sync(table)
    target.sync_metadata(TableSyncMetadata("i1", row_deletes_mode=True))
    target.sync_schema(table.read_schema)
    target.sync_partition_spec([])
    empty_inv = arrow_table([], FILE_INVENTORY_ARROW)
    target.sync_files_for_diff(
        TableChange(
            table=table, commit_id="i1", files_added=empty_inv, files_removed=empty_inv
        )
    )
    target.sync_row_deletes(
        arrow_table([(victim["_fp"], pos_path, 1, None)], ROW_DELETES_ARROW)
    )
    v = target.complete_sync()
    assert v == 1

    after_df = read_delta_as_df(spark, source_dir, with_row_ids=True)
    after = {r["r_regionkey"]: r["_row_id"] for r in after_df.collect()}
    assert 2 not in after
    for k, rid in after.items():
        assert before[k] == rid, (k, rid, before[k])

    report = check_delta_conformance(spark, source_dir)
    assert not [i for i in report.issues if i.code.startswith("DELTA_ROW_TRACKING")], (
        report.issues
    )


def test_row_tracking_mid_table_refused_and_plain_table_read_refused(
    spark, source_dir
):
    _sync(spark, source_dir)
    _append_rows(spark, source_dir, 100)
    # the controller isolates target failures into the result object
    source = ParquetConversionSource(spark, source_dir, name="region")
    target = DeltaConversionTarget(spark, source_dir, row_tracking=True)
    res = ConversionController().sync(source, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status != SyncStatusCode.SUCCESS
    assert "table creation" in res[TableFormat.DELTA].error.error_message
    with pytest.raises(ValueError, match="row tracking"):
        read_delta_as_df(spark, source_dir, with_row_ids=True)


def test_row_tracking_conformance_red(spark, source_dir):
    _sync(spark, source_dir, row_tracking=True)
    log = os.path.join(source_dir, "_delta_log")
    fp = os.path.join(log, f"{0:020d}.json")
    with open(fp, encoding="utf-8") as fh:
        original = fh.read()

    def codes():
        return {i.code for i in check_delta_conformance(spark, source_dir).issues}

    def mutate(fn):
        lines = [json.loads(l) for l in original.splitlines()]
        fn(lines)
        with open(fp, "w", encoding="utf-8") as fh:
            fh.writelines(json.dumps(l) + "\n" for l in lines)

    # (a) an add without baseRowId
    def strip_base(lines):
        for l in lines:
            if "add" in l:
                l["add"].pop("baseRowId", None)
                break

    mutate(strip_base)
    assert "DELTA_ROW_TRACKING_BASE_ID" in codes()

    # (b) overlapping ranges
    def overlap(lines):
        adds = [l for l in lines if "add" in l]
        assert len(adds) >= 2
        adds[1]["add"]["baseRowId"] = adds[0]["add"]["baseRowId"]

    mutate(overlap)
    assert "DELTA_ROW_TRACKING_OVERLAP" in codes()

    # (c) watermark below the assigned ids
    def low_hwm(lines):
        for l in lines:
            if "domainMetadata" in l and l["domainMetadata"]["domain"] == "delta.rowTracking":
                l["domainMetadata"]["configuration"] = json.dumps(
                    {"rowIdHighWaterMark": 0}
                )

    mutate(low_hwm)
    assert "DELTA_ROW_TRACKING_HWM" in codes()

    # (d) feature stripped
    def strip_feat(lines):
        for l in lines:
            if "protocol" in l:
                l["protocol"]["writerFeatures"] = [
                    f for f in l["protocol"]["writerFeatures"] if f != "rowTracking"
                ]

    mutate(strip_feat)
    assert "DELTA_ROW_TRACKING_PROTOCOL" in codes()

    with open(fp, "w", encoding="utf-8") as fh:
        fh.write(original)
    assert not [c for c in codes() if c.startswith("DELTA_ROW_TRACKING")]


def test_all_writer_features_compose(spark, source_dir, tmp_path):
    """Feature interaction: ICT + row tracking + clustering + user domain
    metadata + CDF on ONE table — protocol lists every feature, commits
    stay commitInfo-first with monotone ICTs, row ids assign, the
    clustering and user domains coexist with delta.rowTracking, and
    conformance is green across two commits + a checkpoint."""
    source = ParquetConversionSource(spark, source_dir, name="region")

    def make_target():
        t = DeltaConversionTarget(
            spark,
            source_dir,
            in_commit_timestamps=True,
            row_tracking=True,
            clustering_columns=["r_regionkey"],
            change_feed=True,
            checkpoint_interval=1,
        )
        orig = t.begin_sync

        def begin(table):
            orig(table)
            t.sync_domain_metadata({"engine.note": "v"})

        t.begin_sync = begin
        return t

    res = ConversionController().sync(source, {TableFormat.DELTA: make_target()})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, (
        res[TableFormat.DELTA].error
    )
    _append_rows(spark, source_dir, 100)
    res = ConversionController().sync(source, {TableFormat.DELTA: make_target()})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, (
        res[TableFormat.DELTA].error
    )

    with open(os.path.join(source_dir, "_delta_log", f"{0:020d}.json")) as fh:
        v0 = [json.loads(l) for l in fh if l.strip()]
    proto = next(l["protocol"] for l in v0 if "protocol" in l)
    for feat in ("inCommitTimestamp", "rowTracking", "clustering",
                 "domainMetadata", "changeDataFeed"):
        assert feat in proto["writerFeatures"], feat
    # commitInfo-first with monotone ICTs on both commits
    icts = []
    for v in (0, 1):
        with open(os.path.join(source_dir, "_delta_log", f"{v:020d}.json")) as fh:
            lines = [json.loads(l) for l in fh if l.strip()]
        assert next(iter(lines[0])) == "commitInfo"
        icts.append(lines[0]["commitInfo"]["inCommitTimestamp"])
    assert icts[1] > icts[0]

    dom = live_domain_metadata(source_dir)
    assert dom["engine.note"] == "v"
    assert "delta.clustering" in dom and "delta.rowTracking" in dom

    df = read_delta_as_df(spark, source_dir, with_row_ids=True)
    ids = sorted(r["_row_id"] for r in df.collect())
    assert ids == list(range(10))

    report = check_delta_conformance(spark, source_dir)
    assert report.passed, report.issues
