"""Hudi MOR (merge-on-read) file-slice differentials: log-file-aware
group resolution matching the reference fs-view
(hudi/HudiDataFileExtractor.java:128-345). The conversion scope is the
READ-OPTIMIZED view (latest base files) — the same scope the reference
syncs via getLatestBaseFiles; log files attach to slices and gate diffs.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.hudi_source import (
    HudiConversionSource,
    is_log_file,
    live_files_rows,
    read_hudi_as_df,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from .model_tables import model_rows


def _write_base(base: str, name: str, ids: list[int]) -> int:
    path = os.path.join(base, name)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "v": [f"x{i}" for i in ids]}), path
    )
    return os.path.getsize(path)


def _write_log(base: str, name: str) -> int:
    path = os.path.join(base, name)
    with open(path, "wb") as fh:
        fh.write(b"\x00hudilog" * 16)
    return os.path.getsize(path)


SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _commit(base: str, instant: str, action: str, stats: list[dict], replaced=None) -> None:
    d = os.path.join(base, ".hoodie")
    meta = {
        "partitionToWriteStats": {"": stats},
        "compacted": action == "commit",
        "extraMetadata": {"schema": SCHEMA_JSON},
        "operationType": "UPSERT",
    }
    if replaced:
        meta["partitionToReplaceFileIds"] = {"": replaced}
    for suffix in (f"{action}.requested", f"{action}.inflight"):
        open(os.path.join(d, f"{instant}.{suffix}"), "w").close()
    with open(os.path.join(d, f"{instant}.{action}"), "w", encoding="utf-8") as fh:
        json.dump(meta, fh)


@pytest.fixture()
def mor_table(tmp_path):
    """MOR table: deltacommit with 2 base files; deltacommit adding a log
    file to group g1; compaction commit writing g1's new base file."""
    base = str(tmp_path / "mor")
    os.makedirs(os.path.join(base, ".hoodie"))
    props = {
        "hoodie.table.name": "mor_tab",
        "hoodie.table.type": "MERGE_ON_READ",
        "hoodie.table.version": "6",
        "hoodie.table.base.file.format": "PARQUET",
        "hoodie.populate.meta.fields": "false",
        "hoodie.table.partition.fields": "",
    }
    with open(os.path.join(base, ".hoodie", "hoodie.properties"), "w") as fh:
        for k, v in props.items():
            fh.write(f"{k}={v}\n")

    s1 = _write_base(base, "g1_0-0-0_001.parquet", list(range(5)))
    s2 = _write_base(base, "g2_0-0-0_001.parquet", list(range(5, 10)))
    _commit(
        base,
        "20240101000001000",
        "deltacommit",
        [
            {"fileId": "g1", "path": "g1_0-0-0_001.parquet", "fileSizeInBytes": s1, "numWrites": 5},
            {"fileId": "g2", "path": "g2_0-0-0_001.parquet", "fileSizeInBytes": s2, "numWrites": 5},
        ],
    )
    lsz = _write_log(base, ".g1_001.log.1_0-1-0")
    _commit(
        base,
        "20240101000002000",
        "deltacommit",
        [{"fileId": "g1", "path": ".g1_001.log.1_0-1-0", "fileSizeInBytes": lsz, "numWrites": 2}],
    )
    return base


def test_log_file_detection():
    assert is_log_file(".g1_001.log.1_0-1-0")
    assert not is_log_file("g1_0-0-0_001.parquet")


def test_read_optimized_snapshot_excludes_logs(spark, mor_table):
    rows = live_files_rows(mor_table)
    paths = [r["path"] for r in rows]
    assert paths == ["g1_0-0-0_001.parquet", "g2_0-0-0_001.parquet"]
    # the log file is tracked on its slice
    g1 = next(r for r in rows if r["fileId"] == "g1")
    assert g1["log_files"] == [".g1_001.log.1_0-1-0"]

    src = HudiConversionSource(spark, mor_table)
    snap = src.get_current_snapshot(with_stats=False)
    inv_paths = sorted(os.path.basename(r["physical_path"]) for r in model_rows(snap.files))
    assert inv_paths == ["g1_0-0-0_001.parquet", "g2_0-0-0_001.parquet"]


def test_log_only_deltacommit_diffs_empty(spark, mor_table):
    """A deltacommit that writes only log files changes no convertible
    file (HudiDataFileExtractor.java:300-310 newBaseFileAdded gate)."""
    src = HudiConversionSource(spark, mor_table)
    change = src.get_table_change_for_commit("20240101000002000")
    assert change.files_added.num_rows == 0
    assert change.files_removed.num_rows == 0


def test_compaction_swaps_base_file(spark, mor_table):
    """Compaction writes g1's new base file: the diff adds it and removes
    the superseded base; the slice's log files reset."""
    s = _write_base(mor_table, "g1_0-0-0_003.parquet", list(range(5)) + [100, 101])
    _commit(
        mor_table,
        "20240101000003000",
        "commit",
        [{"fileId": "g1", "path": "g1_0-0-0_003.parquet", "fileSizeInBytes": s, "numWrites": 7}],
    )
    src = HudiConversionSource(spark, mor_table)
    change = src.get_table_change_for_commit("20240101000003000")
    added = [os.path.basename(r["physical_path"]) for r in model_rows(change.files_added)]
    removed = [os.path.basename(r["physical_path"]) for r in model_rows(change.files_removed)]
    assert added == ["g1_0-0-0_003.parquet"]
    assert removed == ["g1_0-0-0_001.parquet"]

    rows = live_files_rows(mor_table)
    g1 = next(r for r in rows if r["fileId"] == "g1")
    assert g1["path"] == "g1_0-0-0_003.parquet"
    assert g1["log_files"] == []


def test_mor_to_delta_conversion_parity(spark, mor_table):
    """End-to-end: MOR source -> Delta target; Delta read equals the
    read-optimized Hudi read, across compaction."""
    src = HudiConversionSource(spark, mor_table)
    target = DeltaConversionTarget(spark, mor_table)
    res = ConversionController().sync(src, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error
    ro = sorted(r["id"] for r in read_hudi_as_df(spark, mor_table).collect())
    via_delta = sorted(r["id"] for r in read_delta_as_df(spark, mor_table).collect())
    assert ro == via_delta == list(range(10))

    # compaction lands; incremental sync keeps parity
    s = _write_base(mor_table, "g1_0-0-0_003.parquet", list(range(5)) + [100, 101])
    _commit(
        mor_table,
        "20240101000003000",
        "commit",
        [{"fileId": "g1", "path": "g1_0-0-0_003.parquet", "fileSizeInBytes": s, "numWrites": 7}],
    )
    res = ConversionController().sync(src, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error
    ro = sorted(r["id"] for r in read_hudi_as_df(spark, mor_table).collect())
    via_delta = sorted(r["id"] for r in read_delta_as_df(spark, mor_table).collect())
    assert ro == via_delta == list(range(10)) + [100, 101]


def test_log_only_group_not_exposed(spark, mor_table):
    """An insert straight into a log file (no base file yet) tracks the
    group but exposes nothing until compaction."""
    lsz = _write_log(mor_table, ".g3_004.log.1_0-1-0")
    _commit(
        mor_table,
        "20240101000004000",
        "deltacommit",
        [{"fileId": "g3", "path": ".g3_004.log.1_0-1-0", "fileSizeInBytes": lsz, "numWrites": 3}],
    )
    assert [r["fileId"] for r in live_files_rows(mor_table)] == ["g1", "g2"]
    with_logs = live_files_rows(mor_table, include_log_only=True)
    g3 = next(r for r in with_logs if r["fileId"] == "g3")
    assert g3["path"] is None and g3["log_files"] == [".g3_004.log.1_0-1-0"]


def test_file_liveness_intervals_track_log_slices(spark, mor_table):
    """file_liveness_intervals (r13, the hudi_clean resolver) on a MOR
    lifecycle: log files attach to their slice's interval and drop when
    compaction writes the new base file — the interval view must equal
    live_files_rows(include_log_only=True) at EVERY instant, and a
    log-only group's log must carry its own interval."""
    from incubator_xtable_spark.sources.hudi_source import file_liveness_intervals
    from incubator_xtable_spark.targets.hudi_target import list_completed_instants

    # compaction supersedes g1's slice (base + its log)
    s = _write_base(mor_table, "g1_0-0-0_003.parquet", list(range(5)))
    _commit(
        mor_table,
        "20240101000003000",
        "commit",
        [{"fileId": "g1", "path": "g1_0-0-0_003.parquet", "fileSizeInBytes": s, "numWrites": 5}],
    )
    # a log-only group (insert into MOR log before any base file)
    lsz = _write_log(mor_table, ".g9_004.log.1_0-1-0")
    _commit(
        mor_table,
        "20240101000004000",
        "deltacommit",
        [{"fileId": "g9", "path": ".g9_004.log.1_0-1-0", "fileSizeInBytes": lsz, "numWrites": 1}],
    )
    intervals = file_liveness_intervals(mor_table)
    by_path = {p: (a, r) for p, a, r in intervals}
    # g1's original base AND its log closed at the compaction instant
    assert by_path["g1_0-0-0_001.parquet"][1] == "20240101000003000"
    assert by_path[".g1_001.log.1_0-1-0"] == (
        "20240101000002000",
        "20240101000003000",
    )
    # the compacted base and the log-only group's log are live at head
    assert by_path["g1_0-0-0_003.parquet"] == ("20240101000003000", None)
    assert by_path[".g9_004.log.1_0-1-0"] == ("20240101000004000", None)
    # full equivalence with the per-instant replay at every instant
    for instant, _a in list_completed_instants(mor_table):
        expect = set()
        for r in live_files_rows(mor_table, instant, include_log_only=True):
            if r.get("path"):
                expect.add(r["path"])
            for lf in r.get("log_files") or []:
                expect.add(lf if isinstance(lf, str) else lf.get("path"))
        got = {
            p for p, a, rm in intervals if a <= instant and (rm is None or instant < rm)
        }
        assert got == expect, (instant, got ^ expect)
