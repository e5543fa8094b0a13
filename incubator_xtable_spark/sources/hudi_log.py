"""Hudi log-file (MOR) block format: reader + merge semantics.

Implemented from the PUBLIC Hudi log-format spec (no Hudi jars in this
environment — the same from-spec posture as the Paimon BinaryRow codec).
Block layout (format version 1, java DataOutputStream = big-endian):

    [6 bytes  magic "#HUDI#"]
    [int64    block size        = bytes of everything after this field,
                                  through the trailing total-length long]
    [int32    log format version (1)]
    [int32    block type ordinal: 0 COMMAND_BLOCK, 1 DELETE_BLOCK,
              2 CORRUPT_BLOCK, 3 AVRO_DATA_BLOCK, 4 HFILE_DATA_BLOCK,
              5 PARQUET_DATA_BLOCK, 6 CDC_DATA_BLOCK]
    [header map: int32 count; per entry int32 key-ordinal
              (0 INSTANT_TIME, 1 TARGET_INSTANT_TIME, 2 SCHEMA,
               3 COMMAND_BLOCK_TYPE), int32 len, utf8 bytes]
    [int64    content length]
    [content]
    [footer map, same shape as header (usually empty)]
    [int64    total block length incl. magic — enables reverse traversal]

Content shapes:
- AVRO_DATA_BLOCK: [int32 version (3)][int32 record count]
  [per record: int32 length + Avro binary record] — record schema is the
  header SCHEMA JSON;
- PARQUET_DATA_BLOCK: raw parquet bytes;
- DELETE_BLOCK: [int32 version][int32 length][Avro binary
  HoodieDeleteRecordList] (keys to delete; schema in header SCHEMA);
- COMMAND_BLOCK: empty content; COMMAND_BLOCK_TYPE=0 is ROLLBACK —
  previously-read blocks whose INSTANT_TIME equals TARGET_INSTANT_TIME
  are discarded (HoodieLogFileReader rollback semantics).

Merge semantics (HoodieMergedLogRecordScanner behavior): scan blocks in
file order across a slice's log files (ordered by log version); data
blocks upsert records keyed by the record-key field (later block wins),
delete blocks drop keys, rollback commands drop the target instant's
blocks. The merged map overlays the slice's base file: matching keys
replace base rows, new keys append, deleted keys vanish.

Scale note: AVRO blocks decode and CDC blocks encode through the
pure-python codec (model/avro_codec) driver-side (bounded: log files are
the un-compacted tail of a slice — compaction regularly folds them into
base files, which is also why the CONVERSION scope stays read-optimized
like the reference); PARQUET
blocks decode with Arrow. read_hudi_as_df(mode="snapshot") applies the
merged overlay per slice.
"""

from __future__ import annotations

import io
import json
import os
import struct
from typing import Any, Optional

MAGIC = b"#HUDI#"

COMMAND_BLOCK = 0
DELETE_BLOCK = 1
CORRUPT_BLOCK = 2
AVRO_DATA_BLOCK = 3
HFILE_DATA_BLOCK = 4
PARQUET_DATA_BLOCK = 5
CDC_DATA_BLOCK = 6

H_INSTANT_TIME = 0
H_TARGET_INSTANT_TIME = 1
H_SCHEMA = 2
H_COMMAND_BLOCK_TYPE = 3

ROLLBACK_COMMAND = 0

DELETE_RECORD_LIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "HoodieDeleteRecordList",
        "fields": [
            {
                "name": "deleteRecordList",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "HoodieDeleteRecord",
                        "fields": [
                            {"name": "recordKey", "type": ["null", "string"], "default": None},
                            {"name": "partitionPath", "type": ["null", "string"], "default": None},
                        ],
                    },
                },
            }
        ],
    }
)


class LogBlock:
    __slots__ = ("block_type", "headers", "content")

    def __init__(self, block_type: int, headers: dict[int, str], content: bytes) -> None:
        self.block_type = block_type
        self.headers = headers
        self.content = content

    @property
    def instant(self) -> Optional[str]:
        return self.headers.get(H_INSTANT_TIME)


def _read_meta_map(buf: io.BytesIO) -> dict[int, str]:
    (count,) = struct.unpack(">i", buf.read(4))
    out = {}
    for _ in range(count):
        ordinal, length = struct.unpack(">ii", buf.read(8))
        out[ordinal] = buf.read(length).decode("utf-8")
    return out


def read_log_blocks(path: str) -> list[LogBlock]:
    """Parse one log file into blocks, applying rollback commands and
    skipping corrupt blocks (bad sizes abort the scan of the rest of the
    file, like a torn write would)."""
    with open(path, "rb") as fh:
        data = fh.read()
    blocks: list[LogBlock] = []
    pos = 0
    while pos + 14 <= len(data):
        if data[pos : pos + 6] != MAGIC:
            break  # torn/garbage tail
        (block_size,) = struct.unpack_from(">q", data, pos + 6)
        end = pos + 6 + 8 + block_size
        if block_size <= 0 or end > len(data):
            break  # truncated block
        buf = io.BytesIO(data[pos + 14 : end])
        (_version, btype) = struct.unpack(">ii", buf.read(8))
        headers = _read_meta_map(buf)
        (content_len,) = struct.unpack(">q", buf.read(8))
        content = buf.read(content_len)
        _footers = _read_meta_map(buf)
        (total_len,) = struct.unpack(">q", buf.read(8))
        if total_len != 6 + 8 + block_size:
            break  # inconsistent trailer -> treat as corrupt tail
        if btype == COMMAND_BLOCK:
            if headers.get(H_COMMAND_BLOCK_TYPE) == str(ROLLBACK_COMMAND):
                target = headers.get(H_TARGET_INSTANT_TIME)
                blocks = [b for b in blocks if b.instant != target]
        elif btype != CORRUPT_BLOCK:
            blocks.append(LogBlock(btype, headers, content))
        pos = end
    return blocks


def _decode_avro_records(spark, schema_json: str, blobs: list[bytes]) -> list[dict]:
    """Avro binary records -> TYPED dicts via the pure-python decoder
    (model/avro_codec; driver-side, bounded by log size).

    r6: previously decoded through the JVM's GenericRecord.toString
    Avro-JSON, which mangled bytes/fixed values (forcing a loud refusal)
    and flattened logical types to raw ints. The pure decoder yields
    real bytes / Decimal / date / datetime values, aligning avro data
    blocks with parquet data blocks in the merge — and needs no JVM at
    all (``spark`` is kept for signature stability)."""
    import json as _json

    from incubator_xtable_spark.model.avro_codec import decode_value

    import io as _io

    schema = _json.loads(schema_json)
    return [decode_value(schema, _io.BytesIO(blob)) for blob in blobs]


def block_records(spark, block: LogBlock) -> tuple[str, list[dict]]:
    """-> ("upsert"|"delete"|"cdc", records). Data records are plain
    dicts; delete records are {"recordKey": ...} dicts; cdc records are
    {"op": "i"|"u"|"d", "before": dict|None, "after": dict|None} (the
    CDC block reuses the Avro data-block framing with the CDC schema in
    its header — HoodieCDCDataBlock extends HoodieAvroDataBlock)."""
    if block.block_type == CDC_DATA_BLOCK:
        buf = io.BytesIO(block.content)
        (_cv, count) = struct.unpack(">ii", buf.read(8))
        blobs = []
        for _ in range(count):
            (ln,) = struct.unpack(">i", buf.read(4))
            blobs.append(buf.read(ln))
        return "cdc", _decode_avro_records(spark, block.headers[H_SCHEMA], blobs)
    if block.block_type == AVRO_DATA_BLOCK:
        buf = io.BytesIO(block.content)
        (_cv, count) = struct.unpack(">ii", buf.read(8))
        blobs = []
        for _ in range(count):
            (ln,) = struct.unpack(">i", buf.read(4))
            blobs.append(buf.read(ln))
        return "upsert", _decode_avro_records(spark, block.headers[H_SCHEMA], blobs)
    if block.block_type == PARQUET_DATA_BLOCK:
        import pyarrow.parquet as pq

        table = pq.read_table(io.BytesIO(block.content))
        return "upsert", table.to_pylist()
    if block.block_type == DELETE_BLOCK:
        buf = io.BytesIO(block.content)
        (_dv, ln) = struct.unpack(">ii", buf.read(8))
        blob = buf.read(ln)
        schema_json = block.headers.get(H_SCHEMA) or DELETE_RECORD_LIST_SCHEMA
        (wrapper,) = _decode_avro_records(spark, schema_json, [blob])
        return "delete", list(wrapper.get("deleteRecordList") or [])
    raise ValueError(f"unsupported log block type {block.block_type}")


def merged_log_records(
    spark, log_paths: list[str], key_field: str, max_instant: Optional[str] = None
) -> tuple[dict[str, dict], set[str]]:
    """Scan a slice's log files in order -> (upserts by key, deleted
    keys). Later blocks win; a delete tombstone is cleared by a later
    upsert of the same key (and vice versa). ``max_instant`` bounds the
    merge for as-of reads: a log FILE can carry blocks from several
    deltacommits (Hudi appends), so blocks whose INSTANT_TIME header is
    newer than the as-of instant must not leak into the view."""
    upserts, deleted, _ = merged_log_records_with_boundary(
        spark, log_paths, key_field, max_instant
    )
    return upserts, deleted


def merged_log_records_with_boundary(
    spark, log_paths: list[str], key_field: str, max_instant: Optional[str] = None
) -> tuple[dict[str, dict], set[str], str]:
    """merged_log_records + the boundary: the newest block instant that
    was APPLIED. Shadow materialization keys its deterministic file
    names on (log files, boundary) so an as-of state maps to a stable
    path even while later blocks keep appending to the same files."""
    upserts: dict[str, dict] = {}
    deleted: set[str] = set()
    boundary = ""
    for path in log_paths:
        for block in read_log_blocks(path):
            inst = block.instant
            if max_instant is not None and inst is not None and inst > max_instant:
                continue
            kind, records = block_records(spark, block)
            if kind == "cdc":
                continue  # CDC supplements don't participate in the merge
            if inst is not None and inst > boundary:
                boundary = inst
            if kind == "upsert":
                for r in records:
                    k = str(r.get(key_field))
                    upserts[k] = r
                    deleted.discard(k)
            else:
                for r in records:
                    k = str(r.get("recordKey"))
                    deleted.add(k)
                    upserts.pop(k, None)
    return upserts, deleted, boundary


# ---------------------------------------------------------------------------
# Write side: CDC supplemental blocks (targets/hudi_target.py change_feed).
# Produces the same public framing the reader above parses; real Hudi's
# HoodieCDCLogger writes the equivalent blocks when
# hoodie.table.cdc.enabled=true (logging mode data_before_after).
# ---------------------------------------------------------------------------


def _meta_map_bytes(entries: dict[int, str]) -> bytes:
    out = struct.pack(">i", len(entries))
    for k, v in entries.items():
        vb = v.encode("utf-8")
        out += struct.pack(">ii", k, len(vb)) + vb
    return out


def _block_bytes(block_type: int, headers: dict[int, str], content: bytes) -> bytes:
    """One framed log block: magic, block size, format version, type,
    header map, content length + content, footer map, total length."""
    body = struct.pack(">ii", 1, block_type)
    body += _meta_map_bytes(headers)
    body += struct.pack(">q", len(content)) + content
    body += _meta_map_bytes({})
    block_size = len(body) + 8
    total = len(MAGIC) + 8 + block_size
    return MAGIC + struct.pack(">q", block_size) + body + struct.pack(">q", total)


def cdc_record_schema(row_schema_json: str) -> str:
    """The CDC record Avro schema: op i|u|d + nullable before/after of
    the row schema (distinct record names — Avro requires unique names,
    so the second embedding is renamed rather than re-declared)."""
    row_schema = json.loads(row_schema_json)
    before = dict(row_schema, name="before_rec")
    after = dict(row_schema, name="after_rec")
    return json.dumps(
        {
            "type": "record",
            "name": "HoodieCDCRecord",
            "fields": [
                {"name": "op", "type": "string"},
                {"name": "before", "type": ["null", before], "default": None},
                {"name": "after", "type": ["null", after], "default": None},
            ],
        }
    )


def write_cdc_log_file(
    path: str, instant: str, row_schema_json: str, records: list[dict]
) -> int:
    """Write CDC records ({op, before, after} dicts) as ONE framed
    CDC_DATA_BLOCK log file; returns the file size. Records are Avro
    binary from model/avro_codec. Driver-side and bounded by the
    commit's change volume — the same metadata-sized posture as the
    reader's block decode."""
    from incubator_xtable_spark.model.avro_codec import encode_binary_record

    schema = cdc_record_schema(row_schema_json)
    schema_dict = json.loads(schema)
    content = struct.pack(">ii", 3, len(records))
    for r in records:
        blob = encode_binary_record(schema_dict, r)
        content += struct.pack(">i", len(blob)) + blob
    block = _block_bytes(
        CDC_DATA_BLOCK, {H_INSTANT_TIME: instant, H_SCHEMA: schema}, content
    )
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(block)
    os.replace(tmp, path)
    return os.path.getsize(path)
