"""Fixture builder: a REAL-layout Hudi metadata-table column_stats
partition (HFile base files holding HoodieMetadataRecord avro values) —
the HFile twin of tests/hudi_logtable.py. The record/wrapper codec lives
in product code (`model/hudi_metadata_records.py`, mirrors the public
HoodieMetadata.avsc shape byte-for-byte, verified against the schema
embedded in an actual Hudi-written HFile under /root/reference/demo);
this module only adds the test-friendly partition writer."""

from __future__ import annotations

import json
import os

from incubator_xtable_spark.model.hfile import write_hfile
from incubator_xtable_spark.model.hudi_metadata_records import (  # noqa: F401 (re-exports used by tests)
    COLUMN_STATS_SCHEMA,
    HUDI_METADATA_RECORD_SCHEMA,
    col_stats_record,
    wrap_value,
)


def write_col_stats_hfile(
    base_path: str,
    records: list[tuple[bytes, bytes]],
    *,
    file_id: str = "col-stats-0000-0",
    instant: str = "00000000000000010",
    compression: int = 1,
) -> str:
    """Write the records as a real-layout metadata base file
    `.hoodie/metadata/column_stats/<fileId>_<writeToken>_<instant>.hfile`
    with the record schema embedded under file-info key "schema" (exactly
    where Hudi's writer puts it)."""
    d = os.path.join(base_path, ".hoodie", "metadata", "column_stats")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{file_id}_0-1-1_{instant}.hfile")
    write_hfile(
        path,
        records,
        {"schema": json.dumps(HUDI_METADATA_RECORD_SCHEMA).encode("utf-8")},
        compression=compression,
    )
    return path


def write_metadata_log_file(
    partition_dir: str,
    records: list[tuple[bytes, bytes]],
    *,
    file_id: str = "col-stats-0000-0",
    base_instant: str = "00000000000000010",
    version: int = 1,
    instant: str = "00000000000000020",
    block_kind: str = "avro",
    delete_keys: list[str] | None = None,
) -> str:
    """An unmerged metadata-table log file atop a base HFile slice:
    ``.{fileId}_{baseInstant}.log.{version}_{writeToken}`` holding ONE
    block — AVRO_DATA_BLOCK (length-prefixed HoodieMetadataRecord avro),
    HFILE_DATA_BLOCK (a whole serialized HFile as content — real Hudi's
    metadata log format), or DELETE_BLOCK (record keys)."""
    import io
    import struct
    import tempfile

    from incubator_xtable_spark.model.avro_codec import encode_binary_record
    from incubator_xtable_spark.sources.hudi_log import (
        AVRO_DATA_BLOCK,
        DELETE_BLOCK,
        DELETE_RECORD_LIST_SCHEMA,
        HFILE_DATA_BLOCK,
        H_INSTANT_TIME,
        H_SCHEMA,
        _block_bytes,
    )

    headers = {H_INSTANT_TIME: instant, H_SCHEMA: json.dumps(HUDI_METADATA_RECORD_SCHEMA)}
    if block_kind == "avro":
        buf = io.BytesIO()
        buf.write(struct.pack(">ii", 3, len(records)))
        for _row, blob in records:
            buf.write(struct.pack(">i", len(blob)) + blob)
        block = _block_bytes(AVRO_DATA_BLOCK, headers, buf.getvalue())
    elif block_kind == "hfile":
        with tempfile.NamedTemporaryFile(suffix=".hfile", delete=False) as tf:
            tmp = tf.name
        write_hfile(tmp, records, {"schema": json.dumps(HUDI_METADATA_RECORD_SCHEMA).encode("utf-8")})
        with open(tmp, "rb") as fh:
            content = fh.read()
        os.unlink(tmp)
        block = _block_bytes(HFILE_DATA_BLOCK, headers, content)
    elif block_kind == "delete":
        wrapper = {
            "deleteRecordList": [
                {"recordKey": k, "partitionPath": None} for k in (delete_keys or [])
            ]
        }
        blob = encode_binary_record(DELETE_RECORD_LIST_SCHEMA, wrapper)
        content = struct.pack(">ii", 1, len(blob)) + blob
        block = _block_bytes(
            DELETE_BLOCK, {H_INSTANT_TIME: instant, H_SCHEMA: DELETE_RECORD_LIST_SCHEMA}, content
        )
    else:
        raise ValueError(block_kind)
    path = os.path.join(partition_dir, f".{file_id}_{base_instant}.log.{version}_0-1-1")
    with open(path, "wb") as fh:
        fh.write(block)
    return path


def add_retired_index_partitions(base_path: str, secondary_field: str) -> list[str]:
    """Lay the row-keyed metadata partitions that older builds maintained
    (``record_index``, ``bloom_filters``, ``secondary_index_idx_<field>``)
    onto an HFile-indexed table the way those builds left them: base HFiles
    named ``<fileId>_0-0-0_<instant>.hfile``, an appended
    ``hoodie.table.metadata.partitions`` line listing them, and write stats
    in the metadata table's latest deltacommit. -> the partition names."""
    import glob

    from incubator_xtable_spark.model.avro_codec import encode_binary_record
    from incubator_xtable_spark.sources.hudi_source import read_properties

    schema = {
        "type": "record",
        "name": "HoodieMetadataRecord",
        "namespace": "org.apache.hudi.avro.model",
        "fields": [{"name": "key", "type": "string"}, {"name": "type", "type": "int"}],
    }
    meta = os.path.join(base_path, ".hoodie", "metadata")
    commit = sorted(glob.glob(os.path.join(meta, ".hoodie", "*.deltacommit")))[-1]
    instant = os.path.basename(commit).split(".")[0]
    groups = {
        "record_index": (5, [f"record-index-{i:04d}-0" for i in range(4)]),
        "bloom_filters": (4, ["bloom-filters-0000-0"]),
        f"secondary_index_idx_{secondary_field}": (
            7,
            [f"secondary-index-{i:04d}-0" for i in range(4)],
        ),
    }
    with open(commit, encoding="utf-8") as fh:
        dc = json.load(fh)
    for partition, (rtype, file_ids) in groups.items():
        d = os.path.join(meta, partition)
        os.makedirs(d)
        for fid in file_ids:
            key = f"{fid}-key"
            path = os.path.join(d, f"{fid}_0-0-0_{instant}.hfile")
            write_hfile(
                path,
                [(key.encode(), encode_binary_record(schema, {"key": key, "type": rtype}))],
                {"schema": json.dumps(schema).encode("utf-8")},
            )
            size = os.path.getsize(path)
            dc["partitionToWriteStats"].setdefault(partition, []).append(
                {
                    "fileId": fid,
                    "path": os.path.join(partition, os.path.basename(path)),
                    "prevCommit": "null",
                    "numWrites": 1,
                    "numInserts": 1,
                    "totalWriteBytes": size,
                    "fileSizeInBytes": size,
                    "partitionPath": partition,
                }
            )
    with open(commit, "w", encoding="utf-8") as fh:
        json.dump(dc, fh, sort_keys=True)
    listed = read_properties(base_path)["hoodie.table.metadata.partitions"]
    with open(os.path.join(base_path, ".hoodie", "hoodie.properties"), "a", encoding="utf-8") as fh:
        fh.write(f"hoodie.table.metadata.partitions={listed}," + ",".join(groups) + "\n")
    return list(groups)
