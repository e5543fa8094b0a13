"""`model/iceberg_manifests`: the spec's inheritance rules on
hand-written manifests, and the Iceberg target carrying inherited
entries forward with explicit sequence numbers.

Spec rules under test (Iceberg table spec, "Manifests" / "Sequence
Number Inheritance" / "Row Lineage"): DELETED entries are not live; an
ADDED entry with null snapshot id or sequence numbers takes the
manifest's; EXISTING entries never inherit; a v3 data file with a null
first_row_id takes the manifest's running first_row_id; a manifest
written under an older partition spec maps into the default spec.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_xtable_spark.model.avro_codec import read_ocf, write_ocf
from incubator_xtable_spark.model.conformance import check_iceberg_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.model.iceberg_manifests import live_entries, manifest_entries
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.iceberg_target import (
    IcebergConversionTarget,
    manifest_entry_schema,
    manifest_list_schema,
    read_table_metadata,
)

_SPECS = [
    {
        "spec-id": 0,
        "fields": [{"name": "r", "source-id": 1, "field-id": 1000, "transform": "identity"}],
    },
    {
        "spec-id": 1,
        "fields": [
            {"name": "region", "source-id": 1, "field-id": 1000, "transform": "identity"},
            {"name": "day", "source-id": 2, "field-id": 1001, "transform": "day"},
        ],
    },
]


def _entry(
    path, status, snapshot_id=None, seq=None, content=0, part=None, rows=1, first_row_id=None
):
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": part or {},
            "record_count": rows,
            "file_size_in_bytes": 10,
            "first_row_id": first_row_id,
        },
    }


# case -> (manifest spec id, manifest-list first_row_id, entries,
#          expected (path, snapshot_id, seq, file_seq, partition, first_row_id))
_CASES = {
    "added_inherits": (
        1,
        None,
        [_entry("a", 1)],
        [("a", 7, 3, 3, {"region": None, "day": None}, None)],
    ),
    "existing_explicit": (
        1,
        None,
        [_entry("e", 0, snapshot_id=5, seq=1)],
        [("e", 5, 1, 1, {"region": None, "day": None}, None)],
    ),
    "deleted_skipped": (
        1,
        None,
        [_entry("gone", 2, snapshot_id=7, seq=3), _entry("kept", 1, snapshot_id=7, seq=3)],
        [("kept", 7, 3, 3, {"region": None, "day": None}, None)],
    ),
    "old_spec_mapped": (
        0,
        None,
        [_entry("old", 0, snapshot_id=5, seq=1, part={"r": "EU"})],
        [("old", 5, 1, 1, {"region": "EU", "day": None}, None)],
    ),
    "v3_running_first_row_id": (
        1,
        100,
        [
            _entry("n1", 1, rows=5),
            _entry("x", 1, rows=3, first_row_id=50),
            _entry("d", 1, content=1, rows=4),
            _entry("n2", 1, rows=2),
        ],
        [
            ("n1", 7, 3, 3, {"region": None, "day": None}, 100),
            ("x", 7, 3, 3, {"region": None, "day": None}, 50),
            ("n2", 7, 3, 3, {"region": None, "day": None}, 105),
            ("d", 7, 3, 3, {"region": None, "day": None}, None),
        ],
    ),
}


def _write_snapshot(tmp_path, spec_id, first_row_id, entries) -> dict:
    """Metadata of a one-snapshot table whose single manifest (sequence 3,
    added by snapshot 7) holds ``entries``."""
    part_cols = [f["name"] for f in _SPECS[spec_id]["fields"]]
    mpath = str(tmp_path / "m0.avro")
    length = write_ocf(mpath, manifest_entry_schema(part_cols, 3), entries)
    record = {
        "manifest_path": mpath,
        "manifest_length": length,
        "partition_spec_id": spec_id,
        "content": 0,
        "sequence_number": 3,
        "min_sequence_number": 1,
        "added_snapshot_id": 7,
        "added_files_count": 0,
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": 0,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "first_row_id": first_row_id,
    }
    lpath = str(tmp_path / "snap-7.avro")
    write_ocf(lpath, manifest_list_schema(3), [record])
    return {
        "default-spec-id": 1,
        "partition-specs": _SPECS,
        "snapshots": [{"snapshot-id": 7, "sequence-number": 3, "manifest-list": lpath}],
    }


def _shape(e) -> tuple:
    df = e["data_file"]
    return (
        df["file_path"],
        e["snapshot_id"],
        e["sequence_number"],
        e["file_sequence_number"],
        df["partition"],
        df["first_row_id"],
    )


@pytest.mark.parametrize("case", sorted(_CASES))
def test_inheritance_rules(tmp_path, case):
    spec_id, first_row_id, entries, expected = _CASES[case]
    meta = _write_snapshot(tmp_path, spec_id, first_row_id, entries)
    ((mf, per_manifest),) = list(manifest_entries(meta, 7))
    assert mf["manifest_path"] == str(tmp_path / "m0.avro")
    assert mf["added_snapshot_id"] == 7
    data, deletes = live_entries(meta, 7)
    assert [_shape(e) for e in data + deletes] == expected
    assert [e["data_file"]["file_path"] for e in per_manifest] == [
        e["data_file"]["file_path"] for e in entries if e["status"] != 2
    ]
    assert all(e["data_file"]["content"] for e in deletes)
    assert live_entries(meta, 8) == ([], [])


def test_existing_entry_without_sequence_number_refused(tmp_path):
    meta = _write_snapshot(tmp_path, 1, None, [_entry("e", 0, snapshot_id=5)])
    with pytest.raises(ValueError, match="EXISTING entry e has no sequence_number"):
        live_entries(meta, 7)


def _strip_entry_sequences(d: str) -> None:
    """Rewrite the head snapshot's manifests the way Iceberg Java writes a
    fresh manifest: ADDED entries with null sequence numbers, left to the
    manifest-list record."""
    meta = read_table_metadata(d)
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    records, list_meta = read_ocf(snap["manifest-list"])
    for mf in records:
        entries, mmeta = read_ocf(mf["manifest_path"])
        assert {e["status"] for e in entries} == {1}
        for e in entries:
            e["sequence_number"] = e["file_sequence_number"] = None
        mf["manifest_length"] = write_ocf(
            mf["manifest_path"],
            mmeta["avro.schema"].decode(),
            entries,
            extra_meta={k: v for k, v in mmeta.items() if not k.startswith("avro.")},
        )
    write_ocf(
        snap["manifest-list"],
        list_meta["avro.schema"].decode(),
        records,
        extra_meta={k: v for k, v in list_meta.items() if not k.startswith("avro.")},
    )


def test_target_carries_inherited_sequence_numbers_forward(spark, tmp_path):
    """A target table whose head manifests leave sequence numbers to the
    manifest list, synced once more: the carried entries are rewritten as
    EXISTING with the sequence they inherited (1), not with nulls, which
    the spec forbids for EXISTING entries; conformance stays green."""
    d = str(tmp_path / "inherit")
    os.makedirs(d)
    source = ParquetConversionSource(spark, d, name="inherit")
    target = IcebergConversionTarget(spark, d, table_name="inherit")
    ctrl = ConversionController()
    for files in ([0, 1], [2]):
        for i in files:
            ids = pa.array([2 * i, 2 * i + 1], pa.int64())
            pq.write_table(pa.table({"id": ids}), f"{d}/f-{i}.parquet")
        res = ctrl.sync(source, {TableFormat.ICEBERG: target})
        assert res[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
        if files == [0, 1]:
            _strip_entry_sequences(d)
            assert check_iceberg_conformance(spark, d).passed
    meta = read_table_metadata(d)
    head = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    raw = {
        os.path.basename(e["data_file"]["file_path"]): (
            e["status"],
            e["sequence_number"],
            e["file_sequence_number"],
        )
        for mf in read_ocf(head["manifest-list"])[0]
        for e in read_ocf(mf["manifest_path"])[0]
    }
    assert raw == {"f-0.parquet": (0, 1, 1), "f-1.parquet": (0, 1, 1), "f-2.parquet": (1, 2, 2)}
    report = check_iceberg_conformance(spark, d)
    assert report.passed, json.dumps([i.__dict__ for i in report.issues], default=str)
