"""Paimon round-5 depth: PK incremental parity across compaction/delete
commits, deletion-vector index files through the row-delete channel, and
per-commit changelog reads.

Reference scope note: the reference's Paimon extractor stops at
data-file manifests (paimon/PaimonDataFileExtractor.java:108-168); the
DV index and changelog tiers here EXTEND the engine beyond it, reusing
the repo's existing row-delete channel (Delta DVs <-> Iceberg position
deletes) for a third source format.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.model.iceberg_manifests import live_entries
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.iceberg_source import (
    IcebergConversionSource,
    read_iceberg_as_df,
)
from incubator_xtable_spark.sources.paimon_dv import (
    read_dv_from_index,
    serialize_paimon_dv,
    write_dv_index_file,
)
from incubator_xtable_spark.sources.paimon_source import (
    PaimonConversionSource,
    read_paimon_as_df,
    read_paimon_changelog,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

from .paimon_testtable import PaimonTestTable

FIELDS = [
    ("id", "INT NOT NULL"),
    ("name", "STRING"),
    ("level", "STRING NOT NULL"),
]


def _mkrows(start, n, level="INFO"):
    return [
        {"id": start + i, "name": f"n-{start + i}", "level": level} for i in range(n)
    ]


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def _sync_delta(spark, base, expose=False):
    res = ConversionController().sync(
        PaimonConversionSource(spark, base, name="pt", expose_row_deletes=expose),
        {TableFormat.DELTA: DeltaConversionTarget(spark, base)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, res[TableFormat.DELTA].error
    return res[TableFormat.DELTA]


# ---------------------------------------------------------------------------
# 1. PK table: incremental parity across compaction + delete commits
# ---------------------------------------------------------------------------


def test_pk_incremental_parity_across_compaction_and_deletes(spark, tmp_path):
    t = PaimonTestTable(
        spark, str(tmp_path / "pk"), FIELDS, partition_keys=["level"], primary_keys=["id"]
    ).create()
    # L0 appends -> compact to top -> FULL sync
    _, e1 = t.append(_mkrows(0, 10), level=0)
    t.compact(e1, _mkrows(0, 10), top_level=5)
    r = _sync_delta(spark, t.base)
    assert r.mode.value == "FULL"
    assert _ids(read_delta_as_df(spark, t.base)) == _ids(read_paimon_as_df(spark, t.base))

    # upsert ids 5..9 + DELETE ids 0..2 arrive at L0 (no view change),
    # then compaction restates the top level; each snapshot syncs
    # incrementally and parity holds at every point
    _, e2 = t.append(
        [{"id": i, "name": f"updated-{i}", "level": "INFO"} for i in range(5, 10)],
        level=0,
    )
    r = _sync_delta(spark, t.base)
    assert r.mode.value == "INCREMENTAL"
    # L0-only commit: read-optimized view unchanged, still in parity
    assert _ids(read_delta_as_df(spark, t.base)) == _ids(read_paimon_as_df(spark, t.base))

    # merge result: ids 3..9 survive (0..2 deleted), 5..9 updated
    src = PaimonConversionSource(spark, t.base)
    old_top_entries = [
        e
        for e in src._merged_live_entries(src._latest())
        if e["_FILE"]["_LEVEL"] == 5
    ]
    merged = [
        {"id": i, "name": (f"updated-{i}" if i >= 5 else f"n-{i}"), "level": "INFO"}
        for i in range(3, 10)
    ]
    t.compact(old_top_entries + e2, merged, top_level=5)
    r = _sync_delta(spark, t.base)
    assert r.mode.value == "INCREMENTAL"

    paimon = sorted(tuple(x) for x in read_paimon_as_df(spark, t.base).collect())
    delta = sorted(
        tuple(x)
        for x in read_delta_as_df(spark, t.base).select("id", "name", "level").collect()
    )
    assert paimon == delta
    assert [x[0] for x in delta] == list(range(3, 10))
    assert any(x[1] == "updated-7" for x in delta)


# ---------------------------------------------------------------------------
# 2. Deletion-vector index codec
# ---------------------------------------------------------------------------


def test_dv_index_file_roundtrip(tmp_path):
    base = str(tmp_path)
    name, size, metas = write_dv_index_file(
        base, {"a.parquet": [1, 5, 1000000], "b.parquet": [0]}
    )
    p = os.path.join(base, "index", name)
    assert os.path.getsize(p) == size
    a = read_dv_from_index(p, metas["a.parquet"]["offset"], metas["a.parquet"]["length"])
    b = read_dv_from_index(p, metas["b.parquet"]["offset"], metas["b.parquet"]["length"])
    assert list(a) == [1, 5, 1000000] and list(b) == [0]
    assert metas["a.parquet"]["cardinality"] == 3

    # CRC detection: flip one byte inside a's data
    blob = bytearray(open(p, "rb").read())
    blob[metas["a.parquet"]["offset"] + 6] ^= 0xFF
    open(p, "wb").write(bytes(blob))
    with pytest.raises(ValueError):
        read_dv_from_index(p, metas["a.parquet"]["offset"], metas["a.parquet"]["length"])


# ---------------------------------------------------------------------------
# 3. DVs through conversion
# ---------------------------------------------------------------------------


@pytest.fixture()
def dv_table(spark, tmp_path):
    """Append-only table, one partition, one file of ids 0..9 with a DV
    deleting positions 2,3,7 (ids 2,3,7)."""
    t = PaimonTestTable(
        spark, str(tmp_path / "dvt"), FIELDS, partition_keys=["level"]
    ).create()
    _, entries = t.append(_mkrows(0, 10))
    fname = entries[0]["_FILE"]["_FILE_NAME"]
    t.set_deletion_vectors([({"level": "INFO"}, 0, {fname: [2, 3, 7]})])
    return t


def test_read_paimon_applies_dvs(spark, dv_table):
    assert _ids(read_paimon_as_df(spark, dv_table.base)) == [0, 1, 4, 5, 6, 8, 9]


def test_paimon_dv_to_delta_dv_metadata_only(spark, dv_table):
    """expose on: Paimon DV -> REAL Delta deletion vector, no purged
    shadows, row parity."""
    _sync_delta(spark, dv_table.base, expose=True)
    assert _ids(read_delta_as_df(spark, dv_table.base)) == [0, 1, 4, 5, 6, 8, 9]
    assert not glob.glob(os.path.join(dv_table.base, "**", "*.purged-*"), recursive=True)
    adds, proto = {}, None
    for f in sorted(glob.glob(os.path.join(dv_table.base, "_delta_log", "*.json"))):
        for line in open(f):
            a = json.loads(line)
            if "add" in a:
                adds[a["add"]["path"]] = a["add"]
            if "protocol" in a:
                proto = a["protocol"]
    dv = next(v for v in adds.values() if v.get("deletionVector"))["deletionVector"]
    assert dv["storageType"] == "u" and dv["cardinality"] == 3
    assert "deletionVectors" in (proto.get("readerFeatures") or [])


def test_paimon_dv_to_iceberg_position_deletes(spark, dv_table):
    res = ConversionController().sync(
        PaimonConversionSource(spark, dv_table.base, name="pt", expose_row_deletes=True),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, dv_table.base, table_name="pt")},
    )
    assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS, res[TableFormat.ICEBERG].error
    assert _ids(read_iceberg_as_df(spark, dv_table.base)) == [0, 1, 4, 5, 6, 8, 9]
    src = IcebergConversionSource(spark, dv_table.base)
    meta = src._meta()
    deletes = live_entries(meta, meta["current-snapshot-id"])[1]
    assert deletes and all(
        (e["data_file"].get("content") or 0) == 1 for e in deletes
    )


def test_paimon_dv_expose_off_purges_shadows(spark, dv_table):
    _sync_delta(spark, dv_table.base, expose=False)
    assert _ids(read_delta_as_df(spark, dv_table.base)) == [0, 1, 4, 5, 6, 8, 9]
    shadows = glob.glob(os.path.join(dv_table.base, "**", "*.purged-*"), recursive=True)
    assert shadows
    # no DV feature in the log
    for f in glob.glob(os.path.join(dv_table.base, "_delta_log", "*.json")):
        for line in open(f):
            assert "deletionVector" not in json.loads(line).get("add", {})


def test_paimon_dv_widening_incremental(spark, dv_table):
    """A later snapshot widens the DV; the incremental sync restates the
    delete set and parity holds (expose on: no data rewrite)."""
    _sync_delta(spark, dv_table.base, expose=True)
    src = PaimonConversionSource(spark, dv_table.base)
    entries = src._merged_live_entries(src._latest())
    fname = entries[0]["_FILE"]["_FILE_NAME"]
    dv_table.set_deletion_vectors([({"level": "INFO"}, 0, {fname: [1, 2, 3, 7, 9]})])
    r = _sync_delta(spark, dv_table.base, expose=True)
    assert r.mode.value == "INCREMENTAL"
    assert _ids(read_paimon_as_df(spark, dv_table.base)) == [0, 4, 5, 6, 8]
    assert _ids(read_delta_as_df(spark, dv_table.base)) == [0, 4, 5, 6, 8]
    assert not glob.glob(os.path.join(dv_table.base, "**", "*.purged-*"), recursive=True)


def test_paimon_dv_expose_off_incremental_dv_only_commit(spark, dv_table):
    """expose off: a DV-only commit (no data-file churn) still restates
    the covered file as a new shadow through the diff path."""
    _sync_delta(spark, dv_table.base, expose=False)
    src = PaimonConversionSource(spark, dv_table.base)
    entries = src._merged_live_entries(src._latest())
    fname = entries[0]["_FILE"]["_FILE_NAME"]
    dv_table.set_deletion_vectors([({"level": "INFO"}, 0, {fname: [0, 1, 2, 3, 7]})])
    r = _sync_delta(spark, dv_table.base, expose=False)
    assert r.mode.value == "INCREMENTAL"
    assert _ids(read_delta_as_df(spark, dv_table.base)) == [4, 5, 6, 8, 9]
    assert _ids(read_paimon_as_df(spark, dv_table.base)) == [4, 5, 6, 8, 9]


# ---------------------------------------------------------------------------
# 4. Changelog reads
# ---------------------------------------------------------------------------


def test_changelog_manifest_read(spark, tmp_path):
    t = PaimonTestTable(
        spark, str(tmp_path / "cl"), FIELDS, partition_keys=["level"], primary_keys=["id"]
    ).create()
    _, e1 = t.append(_mkrows(0, 3), level=0)
    # an upsert commit with explicit changelog rows
    sid = t.commit_with_changelog(
        [],
        [
            ("+I", {"id": 9, "name": "n-9", "level": "INFO"}),
            ("-U", {"id": 1, "name": "n-1", "level": "INFO"}),
            ("+U", {"id": 1, "name": "updated-1", "level": "INFO"}),
            ("-D", {"id": 0, "name": "n-0", "level": "INFO"}),
        ],
    )
    ch = read_paimon_changelog(spark, t.base, sid)
    rows = {(r["id"], r["_change_type"]): r["name"] for r in ch.collect()}
    assert rows == {
        (9, "insert"): "n-9",
        (1, "update_preimage"): "n-1",
        (1, "update_postimage"): "updated-1",
        (0, "delete"): "n-0",
    }
    assert all(r["_commit_snapshot_id"] == sid for r in ch.collect())


def test_changelog_append_fallback(spark, tmp_path):
    t = PaimonTestTable(spark, str(tmp_path / "cl2"), FIELDS, partition_keys=["level"]).create()
    sid, _ = t.append(_mkrows(0, 4))
    ch = read_paimon_changelog(spark, t.base, sid)
    assert sorted(r["id"] for r in ch.collect()) == [0, 1, 2, 3]
    assert {r["_change_type"] for r in ch.collect()} == {"insert"}


def test_changelog_pk_without_producer_raises(spark, tmp_path):
    t = PaimonTestTable(
        spark, str(tmp_path / "cl3"), FIELDS, partition_keys=["level"], primary_keys=["id"]
    ).create()
    sid, _ = t.append(_mkrows(0, 3), level=0)
    with pytest.raises(ValueError, match="changelog"):
        read_paimon_changelog(spark, t.base, sid)


# ---------------------------------------------------------------------------
# Tags: pinned snapshots that survive expiration (spec tag/ layout)
# ---------------------------------------------------------------------------


def test_paimon_tags_pin_state_through_expiration(spark, tmp_path):
    from incubator_xtable_spark.sources.paimon_source import (
        create_paimon_tag,
        list_paimon_tags,
        remove_paimon_tag,
    )
    from incubator_xtable_spark.sync.retention import paimon_expire_snapshots

    base = str(tmp_path / "pt_tags")
    t = PaimonTestTable(spark, base, FIELDS).create()
    s1, _ = t.append(_mkrows(0, 4))
    sid = create_paimon_tag(base, "release-1")
    assert sid == s1
    s2, _ = t.append(_mkrows(100, 3))

    # tag resolves the OLD state while head moved on
    assert _ids(read_paimon_as_df(spark, base, tag="release-1")) == [0, 1, 2, 3]
    assert len(_ids(read_paimon_as_df(spark, base))) == 7

    # expire everything but the head: the tag file is a full snapshot
    # copy, so the pinned state STILL reads (expiry deletes pointers,
    # never manifests/data)
    expired = paimon_expire_snapshots(base, keep_last=1)
    assert s1 in expired
    assert _ids(read_paimon_as_df(spark, base, tag="release-1")) == [0, 1, 2, 3]
    assert list(list_paimon_tags(base)) == ["release-1"]

    # immutability + refusals
    with pytest.raises(ValueError, match="immutable"):
        create_paimon_tag(base, "release-1")
    with pytest.raises(ValueError, match="expired"):
        create_paimon_tag(base, "next", snapshot_id=s1)
    with pytest.raises(ValueError, match="not both"):
        read_paimon_as_df(spark, base, snapshot_id=s2, tag="release-1")
    with pytest.raises(ValueError, match="no tag"):
        read_paimon_as_df(spark, base, tag="bogus")

    remove_paimon_tag(base, "release-1")
    assert list_paimon_tags(base) == {}
    with pytest.raises(ValueError, match="no tag"):
        remove_paimon_tag(base, "release-1")
