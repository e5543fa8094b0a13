"""HoodieMetadataRecord avro codec — the record model of real Hudi's
metadata table (public HoodieMetadata.avsc shape, verified byte-level
against the schema embedded in an actual Hudi-written HFile under
/root/reference/demo/data/db/hudi_dimCustomer/.hoodie/metadata).

Reference parity (what, not how): real Hudi's write client maintains the
metadata table's ``files`` and ``column_stats`` partitions on every
commit (ref hudi/HudiConversionTarget.java:267-470 drives that client);
records are HoodieMetadataRecord avro values keyed by record type:

- type 1 (ALL_PARTITIONS): row key ``__all_partitions__``,
  filesystemMetadata maps partition name -> {size: 0, isDeleted}.
- type 2 (PARTITION_FILES): row key = partition path (``.`` for a
  non-partitioned table), filesystemMetadata maps file name ->
  {size, isDeleted}.
- type 3 (COLUMN_STATS): ColumnStatsMetadata with min/max wrapped in the
  typed wrapper records (DateWrapper plain epoch-days ints,
  TimestampMicrosWrapper plain epoch-micros longs, DecimalWrapper a
  logical decimal(30, 15)).

The writer schema here is the resolvable subset of the real record (the
``_hoodie_*`` meta fields and Bloom/recordIndex branches are absent);
avro schema resolution fills a reader's missing fields from their null
defaults, which is exactly how real Hudi decodes HFile cells (writer
schema embedded under file-info key ``schema``).

Record keys (r9): column_stats records key by real Hudi's hashed
``ColumnIndexID + PartitionIndexID + FileIndexID`` base64 scheme
(``model/hudi_hash.py``) — the key real Hudi's point lookups compute
(``HoodieMetadataPayload.getColumnStatsIndexKey``), so a real reader's
hashed probes resolve against engine-written indexes. The readable
``<column>;;<file>`` convention remains available (``key_mode=
"readable"``) for engine-internal fixtures; read paths never parse the
key — the payload carries fileName/columnName.
"""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import types as T

from incubator_xtable_spark.model.avro_codec import Branch, encode_binary_record

ALL_PARTITIONS_KEY = "__all_partitions__"
NON_PARTITIONED_NAME = "."  # real Hudi's record key for the root partition

_WRAPPERS = [
    {"type": "record", "name": "BooleanWrapper", "fields": [{"name": "value", "type": "boolean"}]},
    {"type": "record", "name": "IntWrapper", "fields": [{"name": "value", "type": "int"}]},
    {"type": "record", "name": "LongWrapper", "fields": [{"name": "value", "type": "long"}]},
    {"type": "record", "name": "FloatWrapper", "fields": [{"name": "value", "type": "float"}]},
    {"type": "record", "name": "DoubleWrapper", "fields": [{"name": "value", "type": "double"}]},
    {"type": "record", "name": "BytesWrapper", "fields": [{"name": "value", "type": "bytes"}]},
    {"type": "record", "name": "StringWrapper", "fields": [{"name": "value", "type": "string"}]},
    {"type": "record", "name": "DateWrapper", "fields": [{"name": "value", "type": "int"}]},
    {
        "type": "record",
        "name": "DecimalWrapper",
        "fields": [
            {
                "name": "value",
                "type": {"type": "bytes", "logicalType": "decimal", "precision": 30, "scale": 15},
            }
        ],
    },
    {"type": "record", "name": "TimeMicrosWrapper", "fields": [{"name": "value", "type": "long"}]},
    {"type": "record", "name": "TimestampMicrosWrapper", "fields": [{"name": "value", "type": "long"}]},
]

_WRAPPER_NAMES = [w["name"] for w in _WRAPPERS]

COLUMN_STATS_SCHEMA = {
    "type": "record",
    "name": "HoodieMetadataColumnStats",
    "fields": [
        {"name": "fileName", "type": ["null", "string"], "default": None},
        {"name": "columnName", "type": ["null", "string"], "default": None},
        {"name": "minValue", "type": ["null"] + _WRAPPERS, "default": None},
        {"name": "maxValue", "type": ["null"] + _WRAPPER_NAMES, "default": None},
        {"name": "valueCount", "type": ["null", "long"], "default": None},
        {"name": "nullCount", "type": ["null", "long"], "default": None},
        {"name": "totalSize", "type": ["null", "long"], "default": None},
        {"name": "totalUncompressedSize", "type": ["null", "long"], "default": None},
        {"name": "isDeleted", "type": "boolean", "default": False},
    ],
}

HUDI_METADATA_RECORD_SCHEMA = {
    "type": "record",
    "name": "HoodieMetadataRecord",
    "namespace": "org.apache.hudi.avro.model",
    "fields": [
        {"name": "key", "type": "string"},
        {"name": "type", "type": "int"},
        {
            "name": "filesystemMetadata",
            "type": [
                "null",
                {
                    "type": "map",
                    "values": {
                        "type": "record",
                        "name": "HoodieMetadataFileInfo",
                        "fields": [
                            {"name": "size", "type": "long"},
                            {"name": "isDeleted", "type": "boolean"},
                        ],
                    },
                },
            ],
            "default": None,
        },
        {"name": "ColumnStatsMetadata", "type": ["null", COLUMN_STATS_SCHEMA], "default": None},
    ],
}

_EPOCH_D = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1)
_EPOCH_TS_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def wrap_value(value, dtype: T.DataType) -> Branch | None:
    """Python stat value -> the Hudi wrapper branch real writers pick."""
    if value is None:
        return None
    if isinstance(dtype, T.BooleanType):
        return Branch("BooleanWrapper", {"value": bool(value)})
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        return Branch("IntWrapper", {"value": int(value)})
    if isinstance(dtype, T.LongType):
        return Branch("LongWrapper", {"value": int(value)})
    if isinstance(dtype, T.FloatType):
        return Branch("FloatWrapper", {"value": float(value)})
    if isinstance(dtype, T.DoubleType):
        return Branch("DoubleWrapper", {"value": float(value)})
    if isinstance(dtype, T.BinaryType):
        return Branch("BytesWrapper", {"value": bytes(value)})
    if isinstance(dtype, T.StringType):
        return Branch("StringWrapper", {"value": str(value)})
    if isinstance(dtype, T.DateType):
        return Branch("DateWrapper", {"value": (value - _EPOCH_D).days})
    if isinstance(dtype, T.DecimalType):
        return Branch("DecimalWrapper", {"value": decimal.Decimal(value)})
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # LTZ stats decode tz-aware (UTC); epoch-micros are tz-agnostic
        epoch = _EPOCH_TS_UTC if value.tzinfo else _EPOCH_TS
        d = value - epoch
        micros = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
        return Branch("TimestampMicrosWrapper", {"value": micros})
    raise ValueError(f"no Hudi wrapper for {dtype}")


def col_stats_key(column_name: str, file_name: str) -> str:
    return f"{column_name};;{file_name}"


def col_stats_record(
    file_name: str,
    column_name: str,
    min_value,
    max_value,
    dtype: T.DataType,
    value_count: int,
    null_count: int,
    is_deleted: bool = False,
    *,
    key_mode: str = "readable",
    partition_path: str = "",
) -> tuple[bytes, bytes]:
    """-> (cell row key, avro value bytes) for one column-stats record.

    ``key_mode="hashed"`` keys the record by real Hudi's
    getColumnStatsIndexKey (needs ``partition_path`` — '' = root); the
    default readable ``<column>;;<file>`` key stays for engine-internal
    fixtures. Payloads are identical either way."""
    if key_mode == "hashed":
        from incubator_xtable_spark.model.hudi_hash import col_stats_index_key

        key = col_stats_index_key(partition_path, file_name, column_name)
    elif key_mode == "readable":
        key = col_stats_key(column_name, file_name)
    else:
        raise ValueError(f"unknown key_mode {key_mode!r}")
    rec = {
        "key": key,
        "type": 3,  # MetadataPartitionType COLUMN_STATS record type
        "filesystemMetadata": None,
        "ColumnStatsMetadata": {
            "fileName": file_name,
            "columnName": column_name,
            "minValue": wrap_value(min_value, dtype),
            "maxValue": wrap_value(max_value, dtype),
            "valueCount": value_count,
            "nullCount": null_count,
            "totalSize": None,
            "totalUncompressedSize": None,
            "isDeleted": is_deleted,
        },
    }
    blob = encode_binary_record(HUDI_METADATA_RECORD_SCHEMA, rec)
    return key.encode("utf-8"), blob


def partition_stats_record(
    partition_path: str,
    column_name: str,
    min_value,
    max_value,
    dtype: T.DataType,
    value_count: int,
    null_count: int,
    is_deleted: bool = False,
) -> tuple[bytes, bytes]:
    """-> (cell row key, avro value bytes) for one PARTITION-level stats
    record (the ``partition_stats`` metadata partition, Hudi 1.0's
    partition-pruning index, beyond the reference): a type-3
    HoodieMetadataColumnStats keyed by getPartitionStatsIndexKey
    (columnID+partitionID, model/hudi_hash.py) whose fileName carries the
    partition identifier — records for one key accumulate across commits
    through the real stat COMBINE (each commit appends only its delta
    aggregate)."""
    from incubator_xtable_spark.model.hudi_hash import (
        partition_identifier,
        partition_stats_index_key,
    )

    key = partition_stats_index_key(partition_path, column_name)
    rec = {
        "key": key,
        "type": 3,  # partition stats reuse the COLUMN_STATS record type
        "filesystemMetadata": None,
        "ColumnStatsMetadata": {
            "fileName": partition_identifier(partition_path),
            "columnName": column_name,
            "minValue": wrap_value(min_value, dtype),
            "maxValue": wrap_value(max_value, dtype),
            "valueCount": value_count,
            "nullCount": null_count,
            "totalSize": None,
            "totalUncompressedSize": None,
            "isDeleted": is_deleted,
        },
    }
    blob = encode_binary_record(HUDI_METADATA_RECORD_SCHEMA, rec)
    return key.encode("utf-8"), blob


def files_partition_records(
    state: dict[str, dict[str, int]],
) -> list[tuple[bytes, bytes]]:
    """Full-state ``files`` partition records from
    {partition_path: {file_name: size}} (partition_path "" = root).

    One type-2 record per partition plus the type-1 ``__all_partitions__``
    listing — the HoodieMetadataPayload file-list shape real readers
    expect (sizes in the all-partitions map are 0 like real Hudi's)."""
    out: list[tuple[bytes, bytes]] = []
    all_parts: dict[str, dict] = {}
    for part, files in sorted(state.items()):
        key = part if part else NON_PARTITIONED_NAME
        all_parts[key] = {"size": 0, "isDeleted": False}
        rec = {
            "key": key,
            "type": 2,  # PARTITION_FILES record type
            "filesystemMetadata": {
                fn: {"size": int(sz), "isDeleted": False} for fn, sz in sorted(files.items())
            },
            "ColumnStatsMetadata": None,
        }
        out.append((key.encode("utf-8"), encode_binary_record(HUDI_METADATA_RECORD_SCHEMA, rec)))
    head = {
        "key": ALL_PARTITIONS_KEY,
        "type": 1,  # ALL_PARTITIONS record type
        "filesystemMetadata": all_parts,
        "ColumnStatsMetadata": None,
    }
    out.append(
        (ALL_PARTITIONS_KEY.encode("utf-8"), encode_binary_record(HUDI_METADATA_RECORD_SCHEMA, head))
    )
    return out


def files_partition_mutation_records(
    adds: dict[str, dict[str, int]],
    removes: dict[str, list[str]],
) -> list[tuple[bytes, bytes]]:
    """Per-commit DELTA records for the ``files`` partition: one type-2
    record per touched partition carrying ONLY this commit's mutations
    (added files with sizes, removed files as isDeleted entries) plus a
    type-1 all-partitions record naming the touched partitions — the
    shape real Hudi appends per deltacommit log block;
    HoodieMetadataPayload's per-entry map combine (merge_metadata_records
    here) folds them into the full state."""
    out: list[tuple[bytes, bytes]] = []
    touched: dict[str, dict] = {}
    for part in sorted(set(adds) | set(removes)):
        key = part if part else NON_PARTITIONED_NAME
        touched[key] = {"size": 0, "isDeleted": False}
        # removes first, adds overwrite: a file removed AND re-added at
        # the same path in one commit is LIVE (the r8 order; reversing it
        # silently vanished live files from the listing)
        fsmeta: dict[str, dict] = {
            fn: {"size": 0, "isDeleted": True} for fn in sorted(removes.get(part) or [])
        }
        for fn, sz in sorted((adds.get(part) or {}).items()):
            fsmeta[fn] = {"size": int(sz), "isDeleted": False}
        rec = {
            "key": key,
            "type": 2,
            "filesystemMetadata": fsmeta,
            "ColumnStatsMetadata": None,
        }
        out.append((key.encode("utf-8"), encode_binary_record(HUDI_METADATA_RECORD_SCHEMA, rec)))
    head = {
        "key": ALL_PARTITIONS_KEY,
        "type": 1,
        "filesystemMetadata": touched,
        "ColumnStatsMetadata": None,
    }
    out.append(
        (ALL_PARTITIONS_KEY.encode("utf-8"), encode_binary_record(HUDI_METADATA_RECORD_SCHEMA, head))
    )
    return out


def _unwrap_stat(wrapper):
    """Comparable inner value of a min/max wrapper in either shape —
    decoded dict ({"value": v}) or writer-side Branch("IntWrapper",
    {"value": v}); None passes through."""
    if wrapper is None:
        return None
    from incubator_xtable_spark.model.avro_codec import Branch

    v = wrapper.value if isinstance(wrapper, Branch) else wrapper
    return v.get("value") if isinstance(v, dict) else v


def _combine_col_stats(prev: dict, new: dict) -> dict:
    """Real HoodieMetadataPayload.mergeColumnStatsRecords over two LIVE
    col-stats records for the same key: min of non-null mins, max of
    non-null maxes, null-aware sums of the count/size fields. The picked
    min/max wrappers carry over untouched (no branch re-inference).
    Accepts records in plain-decoded shape AND branch-preserving shape
    (ColumnStatsMetadata as Branch — the lossless decode compaction
    uses); the output keeps the newer record's shape."""
    from incubator_xtable_spark.model.avro_codec import Branch

    def _cs_of(rec):
        v = rec.get("ColumnStatsMetadata")
        if isinstance(v, Branch):
            return v.value or {}, v.name
        return v or {}, None

    pcs, _pname = _cs_of(prev)
    ncs, nname = _cs_of(new)

    def _pick(field, want_min: bool):
        pw, nw = pcs.get(field), ncs.get(field)
        pv, nv = _unwrap_stat(pw), _unwrap_stat(nw)
        if pv is None:
            return nw
        if nv is None:
            return pw
        if (pv <= nv) == want_min:
            return pw
        return nw

    def _sum(field):
        pv, nv = pcs.get(field), ncs.get(field)
        if pv is None and nv is None:
            return None
        return int(pv or 0) + int(nv or 0)

    merged_cs = dict(ncs)
    merged_cs["minValue"] = _pick("minValue", want_min=True)
    merged_cs["maxValue"] = _pick("maxValue", want_min=False)
    for f in ("valueCount", "nullCount", "totalSize", "totalUncompressedSize"):
        merged_cs[f] = _sum(f)
    merged = dict(new)
    merged["ColumnStatsMetadata"] = (
        Branch(nname, merged_cs) if nname else merged_cs
    )
    return merged


def combine_col_stats_raw(blobs: list[bytes], schema: dict | None = None) -> bytes:
    """Fold an ordered (oldest-first) list of RAW type-3 record payloads
    for ONE key into one combined payload — the compaction shape for
    partitions whose records accumulate by COMBINE (partition_stats:
    every commit appends a delta aggregate for the same key). Decodes
    branch-preservingly so the re-encode is lossless."""
    from incubator_xtable_spark.model.avro_codec import (
        decode_binary_record_with_branches,
        encode_binary_record,
    )

    schema = schema or HUDI_METADATA_RECORD_SCHEMA
    recs = [decode_binary_record_with_branches(schema, b) for b in blobs]
    merged = recs[0]
    for nxt in recs[1:]:
        merged = _combine_col_stats(merged, nxt)
    return encode_binary_record(schema, merged)


def merge_metadata_records(
    ordered: list[tuple[str, dict]],
) -> dict[str, dict]:
    """HoodieMetadataPayload merge over an ordered (oldest-first) record
    stream: -> {record key: merged record}.

    - type 3 (COLUMN_STATS): two LIVE records for the same key COMBINE
      the way real HoodieMetadataPayload.mergeColumnStatsRecords does —
      min of non-null mins, max of non-null maxes, null-aware summed
      value/null counts and sizes (r9; previously latest-wins, which
      agreed on engine-written logs — complete per-(column,file)
      records — but diverged on real-Hudi logs carrying PARTIAL
      col-stats deltas).  isDeleted records drop the key.  The winning
      min/max keep their ORIGINAL wrapper objects, so no union branch is
      ever re-inferred.
    - type 1/2 (file lists): filesystemMetadata maps COMBINE per entry —
      a log record carries only the commit's mutations, so newer entries
      override per file name and isDeleted entries prune that file (the
      reference merges through HoodieMetadataPayload.combineAndGetUpdateValue
      via the Hudi client; semantics restated here from the public payload
      contract)."""
    out: dict[str, dict] = {}
    for key, rec in ordered:
        if rec.get("_tombstone"):
            # DELETE_BLOCK record key: drops the key for every type
            out.pop(key, None)
            continue
        rtype = rec.get("type")
        if rtype == 3:
            cs = rec.get("ColumnStatsMetadata") or {}
            if cs.get("isDeleted"):
                out.pop(key, None)
                continue
            prev = out.get(key)
            pcs = (prev or {}).get("ColumnStatsMetadata") or {}
            if prev is not None and prev.get("type") == 3 and not pcs.get("isDeleted"):
                out[key] = _combine_col_stats(prev, rec)
            else:
                out[key] = rec
            continue
        if rtype in (1, 2):
            prev = out.get(key)
            merged = dict((prev or {}).get("filesystemMetadata") or {})
            for fn, info in (rec.get("filesystemMetadata") or {}).items():
                if info.get("isDeleted"):
                    merged.pop(fn, None)
                else:
                    merged[fn] = info
            nrec = dict(rec)
            nrec["filesystemMetadata"] = merged
            out[key] = nrec
            continue
        out[key] = rec  # unknown types: latest wins verbatim
    return out


def merged_metadata_slice_records(
    hfile_path: str, log_paths: list[str], as_of_instant: str | None = None
) -> list[tuple[str, dict]]:
    """Decode one metadata file slice — base HFile plus its ordered log
    files — into merged (key, HoodieMetadataRecord) pairs.

    Log blocks supported: AVRO_DATA_BLOCK (length-prefixed avro records,
    writer schema in the block's SCHEMA header), HFILE_DATA_BLOCK (a whole
    serialized HFile as block content — real Hudi's metadata log format),
    DELETE_BLOCK (record keys to drop), rollback COMMAND blocks (applied
    by the log reader). Anything else refuses loudly — callers probe with
    metadata_logs_supported first and fall back instead of serving stale
    state. Bounded by index size, never data size."""
    from incubator_xtable_spark.model.hfile import read_hfile

    ordered: list[tuple[str, dict]] = list(
        _hfile_records(read_hfile(hfile_path), hfile_path)
    )
    ordered.extend(iter_log_records(log_paths, as_of_instant))
    return sorted(merge_metadata_records(ordered).items())


def _hfile_records(hf, where: str) -> list[tuple[str, dict]]:
    import io as _io
    import json as _json

    from incubator_xtable_spark.model.avro_codec import decode_value

    avsc = hf.file_info.get("schema")
    if avsc is None:
        raise ValueError(f"{where}: HFile carries no avro schema in file info")
    schema = _json.loads(avsc.decode("utf-8"))
    out = []
    for cell in hf.cells:
        rec = decode_value(schema, _io.BytesIO(cell.value))
        # writers may leave the avro key field empty (virtual keys);
        # the cell row IS the record key then — real readers refill it
        key = rec.get("key") or cell.row.decode("utf-8")
        out.append((key, rec))
    return out


def iter_log_records(
    log_paths: list[str], as_of_instant: str | None = None
) -> list[tuple[str, dict]]:
    """Ordered (key, record) stream of a metadata file slice's log files —
    AVRO_DATA_BLOCK / HFILE_DATA_BLOCK / DELETE_BLOCK decode; anything
    else refuses loudly (callers probe with metadata_logs_supported)."""
    return [
        (k, rec) for k, _raw, rec in iter_log_records_raw(log_paths, as_of_instant)
    ]


def iter_log_records_raw(
    log_paths: list[str], as_of_instant: str | None = None
) -> list[tuple[str, bytes | None, dict]]:
    """The single log-block decoder: ordered (key, raw avro value bytes,
    decoded record) triples. Raw bytes ride along for COMPACTION, which
    must carry winning records without re-encoding (decode drops union
    branch names — see targets/hudi_metadata_index._compacted_records);
    tombstones from DELETE_BLOCKs yield (key, None, {"_tombstone"}).

    ``as_of_instant`` replays only blocks whose INSTANT_TIME header is at
    or before the given data-table instant — the index AS OF that
    commit. A block WITHOUT the header is skipped under as-of (its
    commit is unknowable; missing state degrades to "keep/fall back" in
    every consumer, never to wrong-era stats)."""
    import io as _io
    import json as _json
    import struct as _struct

    from incubator_xtable_spark.model.avro_codec import decode_value
    from incubator_xtable_spark.model.hfile import read_hfile_bytes
    from incubator_xtable_spark.sources.hudi_log import (
        AVRO_DATA_BLOCK,
        DELETE_BLOCK,
        DELETE_RECORD_LIST_SCHEMA,
        HFILE_DATA_BLOCK,
        H_SCHEMA,
        read_log_blocks,
    )

    from incubator_xtable_spark.sources.hudi_log import H_INSTANT_TIME

    ordered: list[tuple[str, bytes | None, dict]] = []
    for lp in log_paths:
        for block in read_log_blocks(lp):
            if as_of_instant is not None:
                b_instant = (block.headers or {}).get(H_INSTANT_TIME)
                if b_instant is None or b_instant > as_of_instant:
                    continue
            if block.block_type == AVRO_DATA_BLOCK:
                schema = _json.loads(block.headers[H_SCHEMA])
                buf = _io.BytesIO(block.content)
                (_v, count) = _struct.unpack(">ii", buf.read(8))
                for _ in range(count):
                    (ln,) = _struct.unpack(">i", buf.read(4))
                    raw = buf.read(ln)
                    rec = decode_value(schema, _io.BytesIO(raw))
                    ordered.append((rec.get("key") or "", raw, rec))
            elif block.block_type == HFILE_DATA_BLOCK:
                hf = read_hfile_bytes(block.content, f"{lp}:hfile-block")
                for (key, rec), cell in zip(
                    _hfile_records(hf, f"{lp}:hfile-block"), hf.cells
                ):
                    ordered.append((key, cell.value, rec))
            elif block.block_type == DELETE_BLOCK:
                buf = _io.BytesIO(block.content)
                (_dv, ln) = _struct.unpack(">ii", buf.read(8))
                schema_json = block.headers.get(H_SCHEMA) or DELETE_RECORD_LIST_SCHEMA
                wrapper = decode_value(_json.loads(schema_json), _io.BytesIO(buf.read(ln)))
                for dr in wrapper.get("deleteRecordList") or []:
                    key = dr.get("recordKey")
                    if key:
                        ordered.append((key, None, {"_tombstone": True}))
            else:
                raise ValueError(
                    f"{lp}: unsupported metadata log block type {block.block_type}"
                )
    return ordered


def point_lookup_slice_record(
    hfile_path: str, log_paths: list[str], key: str
) -> dict | None:
    """POINT lookup of one record key across a metadata file slice — the
    read shape real Hudi's getColumnStats uses against hashed keys: an
    HFile block-index seek on the base file (O(one block) decode, see
    model/hfile.lookup_hfile), then the slice's log records REPLAYED for
    that key only (logs are per-commit deltas — metadata-sized). Returns
    the merged record, or None when the key is absent/tombstoned."""
    import io as _io
    import json as _json

    from incubator_xtable_spark.model.avro_codec import decode_value
    from incubator_xtable_spark.model.hfile import lookup_hfile

    row = key.encode("utf-8")
    value, file_info = lookup_hfile(hfile_path, row)
    ordered: list[tuple[str, dict]] = []
    if value is not None:
        avsc = file_info.get("schema")
        if avsc is None:
            raise ValueError(f"{hfile_path}: HFile carries no avro schema in file info")
        rec = decode_value(_json.loads(avsc.decode("utf-8")), _io.BytesIO(value))
        ordered.append((rec.get("key") or key, rec))
    if log_paths:
        ordered.extend((k, r) for k, r in iter_log_records(log_paths) if k == key)
    return merge_metadata_records(ordered).get(key)


def metadata_logs_supported(log_paths: list[str]) -> bool:
    """Cheap probe: every block in every log parses and is a type the
    merge supports. Corrupt/unknown content -> False (callers warn and
    fall back to footers / timeline replay instead of failing the read)."""
    from incubator_xtable_spark.sources.hudi_log import (
        AVRO_DATA_BLOCK,
        DELETE_BLOCK,
        HFILE_DATA_BLOCK,
        read_log_blocks,
    )

    try:
        for lp in log_paths:
            for block in read_log_blocks(lp):
                if block.block_type not in (AVRO_DATA_BLOCK, HFILE_DATA_BLOCK, DELETE_BLOCK):
                    return False
    except Exception:
        return False
    return True
