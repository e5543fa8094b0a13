"""Iceberg conversion target: commits file-level metadata as an Iceberg
v2 table (HadoopTables layout) — `metadata/vN.metadata.json` +
`version-hint.text`, Avro manifest lists (`snap-*.avro`) and manifests
(`*-m0.avro`) — following the PUBLIC Iceberg table spec
(iceberg.apache.org/spec: field-ids, sequence numbers, snapshot chain).

Manifests and manifest lists are Avro object container files written
driver-side by the pure-python codec (`model/avro_codec` write_ocf) —
no JVM call per record — and the branch head's live entries are read
back through `model/iceberg_manifests`. The manifest volume is
metadata-sized; MANIFEST_CHUNK bounds each file.

Reference parity (what, not how):
- target txn + snapshot commit     iceberg/IcebergConversionTarget.java:152-376
- table create/manage              iceberg/IcebergTableManager.java:1-126
- file commits w/ metrics          iceberg/IcebergDataFileUpdatesSync.java:56-150
- schema with field ids            iceberg/IcebergSchemaExtractor.java:114-300
- bookmark in table properties     model/metadata/TableSyncMetadata.java

Scope notes: partition specs are TRANSFORM-AWARE (identity plus
year/month/day/hour and bucket — spec-native manifest values, e.g. int
days-since-epoch for days(ts); see `_partition_spec_json` and
`tests/test_iceberg_transform_to_delta.py` for the e2e proof); column
bounds/null-counts ARE written into data_file structs in the spec's
single-value binary encoding (see `model/iceberg_values.py` and
`_entry_from_row`); removals commit as a compacted single manifest of
the surviving file set (valid Iceberg overwrite-by-rewrite semantics);
opt-in format_version=3 writes row deletes as Puffin deletion vectors.
"""

from __future__ import annotations

import json
import logging
import os
import re
import time
import uuid
from typing import Any, Optional

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from incubator_xtable_spark.model.avro_codec import write_ocf
from incubator_xtable_spark.model.core import InternalTable, TableChange, table_rows
from incubator_xtable_spark.model.files_diff import files_diff, relativize
from incubator_xtable_spark.model.iceberg_manifests import live_entries
from incubator_xtable_spark.model.schema_meta import FIELD_ID, assign_field_ids
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata, XTABLE_METADATA_KEY


# ---------------------------------------------------------------------------
# Spark <-> Iceberg schema JSON (spec "schemas" field)
# ---------------------------------------------------------------------------


# element/key/value ids of nested list/map types, stashed on the owning
# named field in type-tree pre-order (array: element-id then element type;
# map: key-id, value-id, then key type, then value type; named struct
# fields carry their own FIELD_ID) so iceberg -> spark -> iceberg keeps
# every nested id stable (IcebergSchemaExtractor.java:114-300 parity)
from incubator_xtable_spark.model.schema_meta import NESTED_IDS  # noqa: E402

log = logging.getLogger(__name__)


def spark_type_to_iceberg(dt: T.DataType, field_meta: Optional[dict] = None) -> Any:
    """Primitive mapping; uuid/fixed ride on field metadata conventions
    (LOGICAL_TYPE/FIXED_BYTES_SIZE, see model/schema_meta.py). Enum
    collapses to string and timestamps to microseconds — Iceberg spec
    semantics, same loss as the reference."""
    meta = field_meta or {}
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        from incubator_xtable_spark.model.schema_meta import FIXED_BYTES_SIZE, LOGICAL_TYPE

        if meta.get(LOGICAL_TYPE) == "uuid":
            return "uuid"
        if FIXED_BYTES_SIZE in meta:
            return f"fixed[{int(meta[FIXED_BYTES_SIZE])}]"
        return "binary"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    _variant_t = getattr(T, "VariantType", None)
    if _variant_t is not None and isinstance(dt, _variant_t):
        # Iceberg v3 `variant` (semi-structured (metadata, value) binary
        # pair — the same Spark-shredded encoding Delta's variantType
        # uses); the target gates this on format_version>=3 at sync time
        return "variant"
    raise ValueError(f"unsupported type for iceberg mapping: {dt}")


def iceberg_type_to_spark(t: Any) -> tuple[T.DataType, dict]:
    """Iceberg primitive type -> (spark type, extra field metadata)."""
    from incubator_xtable_spark.model.schema_meta import FIXED_BYTES_SIZE, LOGICAL_TYPE

    mapping = {
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "string": T.StringType(),
        "boolean": T.BooleanType(),
        "date": T.DateType(),
        "timestamptz": T.TimestampType(),
        "timestamp": T.TimestampNTZType(),
        "binary": T.BinaryType(),
    }
    if isinstance(t, str):
        if t in mapping:
            return mapping[t], {}
        if t.startswith("decimal"):
            p, s = t[t.index("(") + 1 : t.index(")")].split(",")
            return T.DecimalType(int(p), int(s)), {}
        if t == "uuid":
            return T.BinaryType(), {LOGICAL_TYPE: "uuid", FIXED_BYTES_SIZE: 16}
        if t.startswith("fixed["):
            return T.BinaryType(), {FIXED_BYTES_SIZE: int(t[len("fixed[") : -1])}
        if t == "variant":
            _variant_t = getattr(T, "VariantType", None)
            if _variant_t is None:
                raise ValueError(
                    "iceberg `variant` needs a Spark runtime with VariantType"
                )
            return _variant_t(), {}
    raise ValueError(f"unsupported iceberg type: {t}")


NAME_MAPPING_PROP = "schema.name-mapping.default"


def name_mapping_json(schema: T.StructType) -> list[dict]:
    """Iceberg name-mapping (spec `schema.name-mapping.default`) so
    engines can read field-id-less Parquet written by other tools: maps
    every field id to its readable names, nested element/key/value
    included. When a field carries a storage name (Delta column-mapping
    physical name), both names map to the id — the reference swaps in the
    storage name the same way (IcebergConversionTarget.java:182-213,
    IcebergTableManager.java:1-126 sets the property)."""
    from incubator_xtable_spark.model.schema_meta import STORAGE_NAME

    fields_json = schema_to_iceberg_fields(assign_field_ids(schema))
    spark_by_name = {f.name: f for f in schema.fields}

    def map_type(t: Any, spark_dt: Optional[T.DataType]) -> list[dict]:
        if not isinstance(t, dict):
            return []
        kind = t.get("type")
        if kind == "struct":
            sub_spark = spark_dt if isinstance(spark_dt, T.StructType) else None
            return [
                map_field(f, sub_spark[f["name"]] if sub_spark and f["name"] in sub_spark.fieldNames() else None)
                for f in t["fields"]
            ]
        if kind == "list":
            elem_spark = spark_dt.elementType if isinstance(spark_dt, T.ArrayType) else None
            entry = {"field-id": t["element-id"], "names": ["element"]}
            nested = map_type(t["element"], elem_spark)
            if nested:
                entry["fields"] = nested
            return [entry]
        if kind == "map":
            key_spark = spark_dt.keyType if isinstance(spark_dt, T.MapType) else None
            val_spark = spark_dt.valueType if isinstance(spark_dt, T.MapType) else None
            key_entry = {"field-id": t["key-id"], "names": ["key"]}
            val_entry = {"field-id": t["value-id"], "names": ["value"]}
            kn, vn = map_type(t["key"], key_spark), map_type(t["value"], val_spark)
            if kn:
                key_entry["fields"] = kn
            if vn:
                val_entry["fields"] = vn
            return [key_entry, val_entry]
        return []

    def map_field(f: dict, spark_field: Optional[T.StructField]) -> dict:
        names = [f["name"]]
        meta = (spark_field.metadata or {}) if spark_field is not None else {}
        storage = meta.get(STORAGE_NAME)
        if storage and storage != f["name"]:
            names.insert(0, storage)
        entry = {"field-id": f["id"], "names": names}
        nested = map_type(f["type"], spark_field.dataType if spark_field is not None else None)
        if nested:
            entry["fields"] = nested
        return entry

    return [map_field(f, spark_by_name.get(f["name"])) for f in fields_json]


def _max_field_id(schema: T.StructType) -> int:
    """Largest id anywhere: named fields at any depth (through arrays and
    maps) plus stashed nested element/key/value ids."""
    best = 0

    def visit_type(dt: T.DataType) -> None:
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                visit_field(f)
        elif isinstance(dt, T.ArrayType):
            visit_type(dt.elementType)
        elif isinstance(dt, T.MapType):
            visit_type(dt.keyType)
            visit_type(dt.valueType)

    def visit_field(f: T.StructField) -> None:
        nonlocal best
        meta = f.metadata or {}
        if meta.get(FIELD_ID) is not None:
            best = max(best, int(meta[FIELD_ID]))
        for i in meta.get(NESTED_IDS) or []:
            best = max(best, int(i))
        visit_type(f.dataType)

    visit_type(schema)
    return best


def _reuse_prev_schema_ids(schema: T.StructType, prev_fields: list[dict]) -> T.StructType:
    """Annotate an ID-LESS spark schema with the field ids the table's
    PREVIOUS Iceberg schema assigned to the same name paths (struct
    members by name, collection element/key/value slots positionally),
    so schema evolution cannot renumber surviving fields.

    Why this matters: fresh pre-order assignment is stable only for
    append-at-end evolution — dropping a column (or inserting one
    mid-schema) from an id-less source would otherwise RECYCLE the
    dropped field's id onto a different column, silently re-attributing
    every carried manifest's bounds/null-counts to the wrong column.
    Fields already carrying ids (Iceberg/Hudi-id-tracking/Delta-mapping
    sources) are left untouched; genuinely new fields stay unannotated
    and draw fresh ids ABOVE the previous last-column-id (the caller
    passes that floor to assign_field_ids). A field whose collection
    SHAPE changed gets fresh collection ids (its old bounds are
    meaningless anyway)."""
    from incubator_xtable_spark.model.schema_meta import NESTED_IDS as _NIDS

    field_ids: dict[tuple, int] = {}
    nested_ids: dict[tuple, list[int]] = {}

    def type_slots(t: Any, acc: list[int]) -> None:
        # collection ids under one field, in conv_type's pop order,
        # stopping at struct boundaries (struct members carry their own)
        if isinstance(t, dict):
            if t.get("type") == "list":
                acc.append(int(t["element-id"]))
                type_slots(t["element"], acc)
            elif t.get("type") == "map":
                acc.append(int(t["key-id"]))
                type_slots(t["key"], acc)
                acc.append(int(t["value-id"]))
                type_slots(t["value"], acc)

    def walk_prev(fields: list[dict], path: tuple) -> None:
        for f in fields:
            p = path + (f["name"],)
            field_ids[p] = int(f["id"])
            acc: list[int] = []
            type_slots(f["type"], acc)
            nested_ids[p] = acc
            descend(f["type"], p)

    def descend(t: Any, path: tuple) -> None:
        if isinstance(t, dict):
            if t.get("type") == "struct":
                walk_prev(t["fields"], path)
            elif t.get("type") == "list":
                descend(t["element"], path + ("[]",))
            elif t.get("type") == "map":
                descend(t["key"], path + ("[k]",))
                descend(t["value"], path + ("[v]",))

    walk_prev(prev_fields, ())

    def count_slots(dt: T.DataType) -> int:
        if isinstance(dt, T.ArrayType):
            return 1 + count_slots(dt.elementType)
        if isinstance(dt, T.MapType):
            return 2 + count_slots(dt.keyType) + count_slots(dt.valueType)
        return 0

    def ann_type(dt: T.DataType, path: tuple) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType([ann_field(f, path) for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(ann_type(dt.elementType, path + ("[]",)), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                ann_type(dt.keyType, path + ("[k]",)),
                ann_type(dt.valueType, path + ("[v]",)),
                dt.valueContainsNull,
            )
        return dt

    def ann_field(f: T.StructField, path: tuple) -> T.StructField:
        p = path + (f.name,)
        meta = dict(f.metadata or {})
        if meta.get(FIELD_ID) is None and p in field_ids:
            meta[FIELD_ID] = field_ids[p]
        prev_slots = nested_ids.get(p) or []
        if (
            meta.get(_NIDS) is None
            and prev_slots
            and count_slots(f.dataType) == len(prev_slots)
        ):
            meta[_NIDS] = prev_slots
        return T.StructField(f.name, ann_type(f.dataType, p), f.nullable, meta)

    return T.StructType([ann_field(f, ()) for f in schema.fields])


def schema_to_iceberg_fields(schema: T.StructType) -> list[dict]:
    """Spark schema -> Iceberg schema JSON `fields`, full nested
    struct/map/list support with stable field ids
    (IcebergSchemaExtractor.java:114-300)."""
    with_ids = assign_field_ids(schema)
    counter = [_max_field_id(with_ids)]

    def alloc() -> int:
        counter[0] += 1
        return counter[0]

    def conv_type(dt: T.DataType, stash: list[int], field_meta: dict) -> Any:
        if isinstance(dt, T.StructType):
            return {"type": "struct", "fields": [conv_field(f) for f in dt.fields]}
        if isinstance(dt, T.ArrayType):
            eid = stash.pop(0) if stash else alloc()
            return {
                "type": "list",
                "element-id": eid,
                "element-required": not dt.containsNull,
                "element": conv_type(dt.elementType, stash, {}),
            }
        if isinstance(dt, T.MapType):
            kid = stash.pop(0) if stash else alloc()
            vid = stash.pop(0) if stash else alloc()
            return {
                "type": "map",
                "key-id": kid,
                "key": conv_type(dt.keyType, stash, {}),
                "value-id": vid,
                "value-required": not dt.valueContainsNull,
                "value": conv_type(dt.valueType, stash, {}),
            }
        return spark_type_to_iceberg(dt, field_meta)

    def conv_field(f: T.StructField) -> dict:
        meta = dict(f.metadata or {})
        stash = [int(i) for i in (meta.get(NESTED_IDS) or [])]
        return {
            "id": meta.get(FIELD_ID),
            "name": f.name,
            "required": not f.nullable,
            "type": conv_type(f.dataType, stash, meta),
        }

    return [conv_field(f) for f in with_ids.fields]


def iceberg_fields_to_schema(fields: list[dict]) -> T.StructType:
    """Iceberg schema JSON `fields` -> Spark schema; nested element/key/
    value ids are stashed in NESTED_IDS metadata so a re-export reuses
    them verbatim."""

    def conv_type(t: Any, stash: list[int]) -> tuple[T.DataType, dict]:
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                return T.StructType([conv_field(f) for f in t["fields"]]), {}
            if kind == "list":
                stash.append(int(t["element-id"]))
                elem, _ = conv_type(t["element"], stash)
                return T.ArrayType(elem, not t.get("element-required", False)), {}
            if kind == "map":
                stash.append(int(t["key-id"]))
                stash.append(int(t["value-id"]))
                key, _ = conv_type(t["key"], stash)
                val, _ = conv_type(t["value"], stash)
                return T.MapType(key, val, not t.get("value-required", False)), {}
            raise ValueError(f"unsupported iceberg type: {t}")
        return iceberg_type_to_spark(t)

    def conv_field(f: dict) -> T.StructField:
        stash: list[int] = []
        dt, extra = conv_type(f["type"], stash)
        meta = {FIELD_ID: f["id"], **extra}
        if stash:
            meta[NESTED_IDS] = stash
        return T.StructField(f["name"], dt, not f.get("required", False), meta)

    return T.StructType([conv_field(f) for f in fields])


# ---------------------------------------------------------------------------
# Avro schemas for manifest list / manifest entries (spec field-ids)
# ---------------------------------------------------------------------------

MANIFEST_LIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {"name": "existing_files_count", "type": "int", "field-id": 505},
            {"name": "deleted_files_count", "type": "int", "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long", "field-id": 513},
            {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        ],
    }
)


def manifest_list_schema(format_version: int = 2) -> str:
    """v3 (row lineage) adds ``first_row_id`` (spec field 520): the
    starting ``_row_id`` for rows in this manifest's data files whose
    per-file ``first_row_id`` is null (inheritance base); null for
    delete manifests. v2 manifest lists keep the exact v2 field set."""
    if format_version < 3:
        return MANIFEST_LIST_SCHEMA
    base = json.loads(MANIFEST_LIST_SCHEMA)
    base["fields"].append(
        {
            "name": "first_row_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 520,
        }
    )
    return json.dumps(base)


def _kv_map_field(name: str, map_field_id: int, key_id: int, value_id: int, value_type: str) -> dict:
    """Spec encoding of map<int, X> columns: nullable array of key/value
    records with field-ids (e.g. lower_bounds = k126_v127)."""
    return {
        "name": name,
        "field-id": map_field_id,
        "default": None,
        "type": [
            "null",
            {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": f"k{key_id}_v{value_id}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": key_id},
                        {"name": "value", "type": value_type, "field-id": value_id},
                    ],
                },
            },
        ],
    }


def manifest_entry_schema(partition_cols: list, format_version: int = 2) -> str:
    """partition_cols: names (string-typed identity values) or
    (name, avro_type) pairs — time/bucket transforms store spec-native
    ints (year/month/day/hour since epoch, bucket ordinal).
    format_version=3 adds the row-lineage field (first_row_id 142) and
    the deletion-vector reference fields (referenced_data_file 143,
    content_offset 144, content_size_in_bytes 145)."""
    partition_fields = [
        {
            "name": c if isinstance(c, str) else c[0],
            "type": ["null", "string" if isinstance(c, str) else c[1]],
            "default": None,
            "field-id": 1000 + i,
        }
        for i, c in enumerate(partition_cols)
    ]
    return json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int", "field-id": 0},
                {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
                {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
                {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
                {
                    "name": "data_file",
                    "field-id": 2,
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int", "field-id": 134},
                            {"name": "file_path", "type": "string", "field-id": 100},
                            {"name": "file_format", "type": "string", "field-id": 101},
                            {
                                "name": "partition",
                                "field-id": 102,
                                "type": {"type": "record", "name": "r102", "fields": partition_fields},
                            },
                            {"name": "record_count", "type": "long", "field-id": 103},
                            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                            _kv_map_field("value_counts", 109, 119, 120, "long"),
                            _kv_map_field("null_value_counts", 110, 121, 122, "long"),
                            _kv_map_field("lower_bounds", 125, 126, 127, "bytes"),
                            _kv_map_field("upper_bounds", 128, 129, 130, "bytes"),
                            {
                                # spec field 135: equality-delete files name
                                # the columns their rows match on
                                "name": "equality_ids",
                                "type": [
                                    "null",
                                    {"type": "array", "items": "int", "element-id": 136},
                                ],
                                "default": None,
                                "field-id": 135,
                            },
                        ]
                        + (
                            [
                                {
                                    # v3 row lineage: the _row_id of the
                                    # file's first row; null = inherit from
                                    # the manifest's first_row_id
                                    "name": "first_row_id",
                                    "type": ["null", "long"],
                                    "default": None,
                                    "field-id": 142,
                                },
                                {
                                    "name": "referenced_data_file",
                                    "type": ["null", "string"],
                                    "default": None,
                                    "field-id": 143,
                                },
                                {
                                    "name": "content_offset",
                                    "type": ["null", "long"],
                                    "default": None,
                                    "field-id": 144,
                                },
                                {
                                    "name": "content_size_in_bytes",
                                    "type": ["null", "long"],
                                    "default": None,
                                    "field-id": 145,
                                },
                            ]
                            if format_version >= 3
                            else []
                        ),
                    },
                },
            ],
        }
    )


# ---------------------------------------------------------------------------
# Table metadata helpers
# ---------------------------------------------------------------------------


def metadata_dir(base_path: str) -> str:
    return os.path.join(base_path, "metadata")


# HadoopTables names metadata ``v{N}.metadata.json`` next to a
# ``version-hint.text``; CATALOG-managed tables (Spark/REST/Glue — the
# common real-world case) name it ``{NNNNN}-{uuid}.metadata.json`` and
# write NO hint file (the catalog itself tracks the current pointer).
# The reference resolves both through HadoopTables / catalog loadTable
# (ref iceberg/IcebergConversionSource.java:90-199); filesystem-only, we
# resolve the head by the committed metadata-log chain with the embedded
# (last-sequence-number, last-updated-ms) as tie-break.
_V_META_RE = re.compile(r"^v(\d+)(\.gz)?\.metadata\.json$")
_CATALOG_META_RE = re.compile(r"^(\d+)-[0-9a-fA-F][0-9a-fA-F-]*(\.gz)?\.metadata\.json$")


def _metadata_file_version(name: str) -> Optional[int]:
    """Metadata version number embedded in either naming scheme."""
    m = _V_META_RE.match(name) or _CATALOG_META_RE.match(name)
    return int(m.group(1)) if m else None


def read_metadata_json_file(path: str) -> dict:
    """Parse one metadata.json that may be gzip-compressed
    (``write.metadata.compression=gzip`` names files
    ``<v>-<uuid>.gz.metadata.json``): sniff the gzip magic rather than
    trusting the name — foreign writers have shipped either.
    Malformed payloads (torn gzip: EOFError; corrupt body: zlib.error;
    bad utf-8/json) all normalize to ValueError so callers need one
    exception contract for "this candidate is not readable"."""
    with open(path, "rb") as fh:
        head = fh.read(2)
        fh.seek(0)
        raw = fh.read()
    if head == b"\x1f\x8b":
        import gzip
        import zlib

        try:
            raw = gzip.decompress(raw)
        except (EOFError, zlib.error, gzip.BadGzipFile) as exc:
            raise ValueError(f"malformed gzip metadata file {path!r}: {exc}") from exc
    try:
        return json.loads(raw.decode("utf-8"))
    except UnicodeDecodeError as exc:
        raise ValueError(f"metadata file {path!r} is not utf-8 json: {exc}") from exc


# hint-less head resolution memo: {metadata dir: (candidate name tuple,
# resolved path)}. metadata.json files are IMMUTABLE and the resolution
# is a pure function of which candidates exist, so the sorted name set
# is a sound invalidation key (directory mtime is not — coarse-mtime
# filesystems can land two commits in one tick). The listdir stays; only
# the per-candidate parsing is skipped — that's the O(versions x size)
# cost sources would otherwise pay per read_table_metadata call.
_RESOLVE_CACHE: dict = {}


def resolve_current_metadata_path(base_path: str) -> Optional[str]:
    """Path of the table's CURRENT metadata.json under either layout.

    HadoopTables (hint file present and valid) resolves directly.
    Otherwise every ``*.metadata.json`` candidate parses (metadata-sized
    driver I/O) and the head is chosen among files NOT superseded —
    i.e. not referenced in any other candidate's ``metadata-log`` (the
    spec's committed-ancestor chain; a failed/orphaned commit attempt
    never makes it into a later file's log) — by the embedded
    (last-sequence-number, last-updated-ms, version, name) key. Ties on
    the full key are inherently unresolvable without the catalog and
    break deterministically by name with a warning.

    The hint is NOT blindly authoritative on a mixed-writer tree: once
    the engine commits on a catalog-written table it creates a hint, but
    a later catalog-layout commit never updates it — trusting a
    superseded hint would silently shadow that commit and the next
    engine commit would orphan it. So the hint short-circuits only on a
    pure ``v{N}`` tree (HadoopTables writers always bump it); when
    catalog-named candidates coexist, the hinted file must additionally
    not be referenced in any other candidate's metadata-log."""
    md = metadata_dir(base_path)
    if not os.path.isdir(md):
        return None
    names = tuple(
        name
        for name in sorted(os.listdir(md))
        if _V_META_RE.match(name) or _CATALOG_META_RE.match(name)
    )
    hint_name = None
    v = current_metadata_version_hint(base_path)
    if v is not None and os.path.exists(os.path.join(md, f"v{v}.metadata.json")):
        hint_name = f"v{v}.metadata.json"
        if all(_V_META_RE.match(n) for n in names):
            return os.path.join(md, hint_name)
    cached = _RESOLVE_CACHE.get(md)
    if cached and cached[0] == (names, hint_name) and os.path.exists(cached[1]):
        return cached[1]
    candidates: list[tuple[str, dict]] = []
    for name in names:
        try:
            candidates.append((name, read_metadata_json_file(os.path.join(md, name))))
        except (OSError, ValueError):
            continue  # torn/corrupt candidate can't be the committed head
    if not candidates:
        return None
    superseded = set()
    for _name, meta in candidates:
        for entry in meta.get("metadata-log") or []:
            mf = entry.get("metadata-file")
            if mf:
                superseded.add(os.path.basename(mf))
    if hint_name is not None and hint_name not in superseded:
        # mixed tree, but nothing committed on top of the hinted file —
        # the hint stays authoritative (engine-written head)
        resolved = os.path.join(md, hint_name)
        _RESOLVE_CACHE[md] = ((names, hint_name), resolved)
        return resolved
    heads = [(n, m) for n, m in candidates if n not in superseded] or candidates

    def _key(nm: tuple[str, dict]):
        name, meta = nm
        return (
            int(meta.get("last-sequence-number") or 0),
            int(meta.get("last-updated-ms") or 0),
            _metadata_file_version(name) or -1,
            name,
        )

    heads.sort(key=_key)
    if len(heads) > 1 and _key(heads[-1])[:2] == _key(heads[-2])[:2]:
        log.warning(
            "iceberg metadata head ambiguous in %s (%s vs %s share "
            "sequence-number and last-updated-ms — concurrent/orphaned "
            "commit?); picking %s",
            md,
            heads[-1][0],
            heads[-2][0],
            heads[-1][0],
        )
    resolved = os.path.join(md, heads[-1][0])
    _RESOLVE_CACHE[md] = ((names, hint_name), resolved)
    return resolved


def current_metadata_version_hint(base_path: str) -> Optional[int]:
    """version-hint.text content (HadoopTables layout), None if absent."""
    hint = os.path.join(metadata_dir(base_path), "version-hint.text")
    if not os.path.exists(hint):
        return None
    with open(hint, encoding="utf-8") as fh:
        return int(fh.read().strip())


def current_metadata_version(base_path: str) -> Optional[int]:
    """Current metadata VERSION NUMBER under either layout: the RESOLVED
    head file's embedded version (``v{N}`` N or the catalog name's
    numeric prefix) — so engine commits on top of a catalog-written
    table continue the version sequence instead of restarting at v1.
    Derives from resolve_current_metadata_path rather than the raw hint
    so a hint superseded by a later catalog-layout commit can't roll the
    sequence back (the resolver still fast-paths pure ``v{N}`` trees via
    the hint); a hint whose file vanished falls back to the hint number
    only when nothing else resolves."""
    p = resolve_current_metadata_path(base_path)
    if p is not None:
        return _metadata_file_version(os.path.basename(p))
    return current_metadata_version_hint(base_path)


def read_table_metadata(base_path: str, version: Optional[int] = None) -> Optional[dict]:
    if version is not None:
        path = os.path.join(metadata_dir(base_path), f"v{version}.metadata.json")
    else:
        path = resolve_current_metadata_path(base_path)
    if path is None or not os.path.exists(path):
        return None
    return read_metadata_json_file(path)


def _write_next_metadata(base_path: str, new: dict, now_ms: int) -> None:
    """Commit ``new`` as the next metadata version: bounded metadata-log
    append referencing the resolved previous head, atomic link, hint
    update. Shared by the metadata-only ref operations."""
    new["last-updated-ms"] = now_ms
    prev = read_table_metadata(base_path) or {}
    prev_path = resolve_current_metadata_path(base_path)
    metadata_log = prev.get("metadata-log", []) + (
        [
            {
                "timestamp-ms": prev.get("last-updated-ms", now_ms),
                "metadata-file": prev_path,
            }
        ]
        if prev_path
        else []
    )
    keep_prev = int(
        (prev.get("properties") or {}).get("write.metadata.previous-versions-max", 100)
    )
    new["metadata-log"] = metadata_log[-keep_prev:] if keep_prev > 0 else []
    version = (current_metadata_version(base_path) or 0) + 1
    final = os.path.join(metadata_dir(base_path), f"v{version}.metadata.json")
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(new, fh)
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise RuntimeError(f"concurrent iceberg commit at version {version}") from exc
    finally:
        os.unlink(tmp)
    with open(os.path.join(metadata_dir(base_path), "version-hint.text"), "w") as fh:
        fh.write(str(version))


def create_ref(
    base_path: str,
    name: str,
    ref_type: str = "tag",
    snapshot_id: Optional[int] = None,
    max_ref_age_ms: Optional[int] = None,
) -> int:
    """Create (or move) a branch/tag ref (spec `refs`) in one
    metadata-only commit — the release step after a WAP publish ("tag
    what shipped"). ``snapshot_id`` defaults to the current main head;
    it must be a live snapshot. Tags may not overwrite an existing ref of
    a different type (an immutable pin changing kind would strand
    readers). Returns the pinned snapshot id."""
    if ref_type not in ("branch", "tag"):
        raise ValueError(f"ref type must be branch or tag, got {ref_type!r}")
    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    sid = snapshot_id
    if sid is None:
        sid = meta.get("current-snapshot-id")
        if sid in (None, -1):
            raise ValueError("no current snapshot to pin (pass snapshot_id)")
    snapshots = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    if sid not in snapshots:
        raise ValueError(f"snapshot {sid} not in table (live snapshots only)")
    if name == "main" and ref_type != "branch":
        raise ValueError("main must remain a branch")
    refs = dict(meta.get("refs") or {})
    existing = refs.get(name)
    if existing is not None and existing.get("type") != ref_type:
        raise ValueError(
            f"ref {name!r} already exists as a {existing.get('type')}; "
            f"refusing to change its type"
        )
    entry: dict = {"snapshot-id": sid, "type": ref_type}
    if max_ref_age_ms is not None:
        entry["max-ref-age-ms"] = int(max_ref_age_ms)
    refs[name] = entry
    new = dict(meta)
    new["refs"] = refs
    _write_next_metadata(base_path, new, int(time.time() * 1000))
    return sid


def remove_ref(base_path: str, name: str) -> None:
    """Drop a branch/tag ref in one metadata-only commit. Refuses main
    (the table's head lineage); the pinned snapshots become ordinary
    expiry candidates afterwards (retention keeps ref-pinned history)."""
    if name == "main":
        raise ValueError("refusing to remove the main branch ref")
    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"no ref {name!r} (refs: {sorted(refs)})")
    refs.pop(name)
    new = dict(meta)
    new["refs"] = refs
    _write_next_metadata(base_path, new, int(time.time() * 1000))


def publish_branch(
    base_path: str,
    branch: str,
    target: str = "main",
    drop_branch: bool = False,
    validate=None,
) -> int:
    """Write-audit-publish PUBLISH step: fast-forward ``target`` (default
    main) to a staged branch's head, as one metadata-only commit.

    WAP flow: IcebergConversionTarget(branch="audit") stages sync commits
    on the audit ref (main readers never see them); the audit step runs
    whatever checks it wants (pass a ``validate`` callable — it runs AFTER
    the ancestry check and BEFORE anything is written; raise to abort);
    then publish_branch flips the target ref. Spec semantics mirror
    Iceberg's fast_forward procedure: the move is REFUSED unless the
    target's current head is an ancestor of the branch head (no implicit
    merges — diverged refs need a new staged sync, not a publish).

    ``drop_branch`` removes the staged ref after publishing (its snapshots
    stay ancestry-reachable from the target). Returns the published
    snapshot id. Metadata-sized work only — no data or manifest I/O."""
    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    refs = dict(meta.get("refs") or {})
    if branch not in refs:
        raise ValueError(f"no ref {branch!r} to publish (refs: {sorted(refs)})")
    if refs[branch].get("type") != "branch":
        raise ValueError(f"ref {branch!r} is a {refs[branch].get('type')}, not a branch")
    if target in refs and refs[target].get("type") != "branch":
        # tags are immutable pins — fast-forwarding one would silently
        # rewrite it as a branch and move external readers' pinned data
        raise ValueError(
            f"publish target {target!r} is a {refs[target].get('type')}, not a branch"
        )
    sid = refs[branch]["snapshot-id"]
    snapshots = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    tgt_head = (refs.get(target) or {}).get("snapshot-id")
    if tgt_head is None and target == "main":
        cur = meta.get("current-snapshot-id")
        tgt_head = cur if cur not in (None, -1) else None
    if tgt_head is not None and tgt_head != sid:
        node, ok = sid, False
        while node is not None:
            if node == tgt_head:
                ok = True
                break
            node = snapshots.get(node, {}).get("parent-snapshot-id")
        if not ok:
            raise ValueError(
                f"cannot fast-forward {target!r} ({tgt_head}) to {branch!r} "
                f"({sid}): target head is not an ancestor of the branch head"
            )
    if validate is not None:
        validate()  # audit hook — raise to abort the publish
    now_ms = int(time.time() * 1000)
    new = dict(meta)
    refs[target] = {"snapshot-id": sid, "type": "branch"}
    if drop_branch and branch != target:
        refs.pop(branch)
    new["refs"] = refs
    if target == "main":
        new["current-snapshot-id"] = sid
        new["snapshot-log"] = meta.get("snapshot-log", []) + [
            {"timestamp-ms": now_ms, "snapshot-id": sid}
        ]
    _write_next_metadata(base_path, new, now_ms)
    return sid


class IcebergConversionTarget:
    """ConversionTarget writing the Iceberg v2 HadoopTables protocol."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        table_name: Optional[str] = None,
        format_version: int = 2,
        branch: str = "main",
    ) -> None:
        if format_version not in (2, 3):
            raise ValueError(f"unsupported Iceberg format version {format_version}")
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.table_name = table_name
        # Write-audit-publish staging (spec `refs`): commits land on this
        # branch ref; branch != "main" leaves main/current-snapshot-id
        # untouched so main readers never see unaudited state. Publish with
        # publish_branch() (fast-forward, ancestry-checked). A staged sync
        # moves the XTABLE bookmark with the branch — publish before
        # resuming main-facing incremental flows.
        if not branch:
            raise ValueError("branch must be a non-empty ref name")
        self.branch = branch
        # v3 expresses row-level deletes as puffin deletion vectors
        # (deletion-vector-v1 blobs, the Delta-compatible frame) instead
        # of v2 position-delete parquets
        self.format_version = format_version
        self._reset()

    # Iceberg v2 can express row-level deletes natively (position-delete
    # files); sources with expose_row_deletes=True may skip shadow rewrites
    supports_row_deletes = True

    def _reset(self) -> None:
        self._table: Optional[InternalTable] = None
        self._schema: Optional[T.StructType] = None
        self._partition_cols: list[str] = []
        self._metadata_json: Optional[str] = None
        # driver rows: a FULL sync sets _snapshot_rows (diffed against the
        # live manifest entries at commit), an incremental one the other two
        self._snapshot_rows: Optional[list[dict]] = None
        self._adds: Optional[list[dict]] = None
        self._removed_paths: set[str] = set()
        self._committed_snapshot: Optional[int] = None
        self._row_deletes: Optional[list[dict]] = None
        self._equality_deletes: Optional[dict] = None
        self._row_lineage: Optional[dict] = None
        # snapshot summary `operation` override: maintenance actions set
        # "replace" (layout-only rewrite — CDC consumers skip it)
        self._summary_operation: Optional[str] = None

    # -- sync steps --------------------------------------------------------

    def begin_sync(self, table: InternalTable) -> None:
        self._reset()
        self._table = table
        os.makedirs(metadata_dir(self.base_path), exist_ok=True)

    def sync_schema(self, schema: T.StructType) -> None:
        # `variant` exists only in spec v3 — a v2 table cannot express it
        _variant_t = getattr(T, "VariantType", None)
        if _variant_t is not None and self.format_version < 3:

            def _has_variant(dt: T.DataType) -> bool:
                if isinstance(dt, _variant_t):
                    return True
                if isinstance(dt, T.StructType):
                    return any(_has_variant(f.dataType) for f in dt.fields)
                if isinstance(dt, T.ArrayType):
                    return _has_variant(dt.elementType)
                if isinstance(dt, T.MapType):
                    return _has_variant(dt.keyType) or _has_variant(dt.valueType)
                return False

            if _has_variant(schema):
                raise ValueError(
                    "VARIANT columns require format_version=3 (Iceberg v3 "
                    f"`variant` type); this target is v{self.format_version}"
                )
        # id stability under schema EVOLUTION for id-less sources: reuse
        # the previous table schema's ids by name path and float fresh
        # ids above the previous last-column-id, so a dropped/inserted
        # column can never recycle an id that carried manifests' bounds
        # still reference (id-carrying sources are untouched)
        prev = read_table_metadata(self.base_path)
        if prev is not None:
            schemas = {s.get("schema-id"): s for s in prev.get("schemas", [])}
            cur = schemas.get(prev.get("current-schema-id"))
            if cur is None and prev.get("schemas"):
                cur = prev["schemas"][0]
            if cur and cur.get("fields"):
                schema = _reuse_prev_schema_ids(schema, cur["fields"])
                schema = assign_field_ids(
                    schema, start=int(prev.get("last-column-id") or 0) + 1
                )
        self._schema = schema

    def sync_partition_spec(self, partition_fields: list) -> None:
        from incubator_xtable_spark.model.core import InternalPartitionField

        self._partition_fields = [
            InternalPartitionField(source_field=pf) if isinstance(pf, str) else pf
            for pf in partition_fields
        ]
        self._partition_cols = [pf.output_name for pf in self._partition_fields]

    def sync_metadata(self, metadata: TableSyncMetadata) -> None:
        self._metadata_json = metadata.to_json()

    def sync_files_for_snapshot(self, files: Any) -> None:
        self._snapshot_rows = table_rows(files)

    def sync_files_for_diff(self, change: TableChange) -> None:
        self._adds = table_rows(change.files_added)
        self._removed_paths = {
            relativize(r["physical_path"], self.base_path) for r in table_rows(change.files_removed)
        }

    def sync_row_deletes(self, deletes: Any) -> None:
        """Row-delete channel (ROW_DELETES_SCHEMA): each row becomes a v2
        position-delete file entry in a content=1 manifest at this
        commit's sequence number — the data files are NOT rewritten."""
        self._row_deletes = table_rows(deletes)

    def sync_row_lineage(self, mapping: dict) -> None:
        """Row-lineage channel ({physical_path: first row id}): new data
        files named in the mapping take the SOURCE's row-id range
        (first_row_id = the Delta baseRowId / foreign first_row_id)
        instead of a fresh one, so stable row ids survive the format
        conversion; files the mapping does not name still draw fresh
        ranges. v3 only — row lineage does not exist below format v3."""
        if self.format_version < 3:
            raise NotImplementedError(
                "row-lineage preservation requires format_version=3 "
                f"(this target is v{self.format_version})"
            )
        self._row_lineage = dict(mapping)

    def sync_equality_deletes(self, eq: dict) -> None:
        """Equality-delete channel (Iceberg->Iceberg relay, r8): the
        source's content=2 delete files re-register AS equality deletes —
        same physical files, equality columns mapped by name into this
        table's field ids, and the source's per-entry sequence numbers
        preserved on BOTH the delete entries and the data entries so the
        strict `delete_seq > data_seq` application rule keeps meaning
        exactly what it meant in the source (the reference relays file
        content as-is). Restates the COMPLETE set each sync — stale
        carried entries drop."""
        self._equality_deletes = eq

    # -- commit ------------------------------------------------------------

    def complete_sync(self) -> int:
        if self._schema is None and self._table is not None:
            self._schema = self._table.read_schema
        meta = read_table_metadata(self.base_path)
        now_ms = int(time.time() * 1000)
        snapshot_id = now_ms * 1000 + (uuid.uuid4().int % 1000)
        seq = (meta.get("last-sequence-number", 0) if meta else 0) + 1
        if self._equality_deletes is not None:
            # source sequence numbers ride onto this table's entries; the
            # snapshot's own sequence must dominate them all so that (a)
            # every entry seq <= snapshot seq (spec rule) and (b) NEW
            # position deletes written at `seq` still cover every data
            # file (>= rule) regardless of how large the source seqs are
            src_seqs = list(self._equality_deletes.get("data_sequences", {}).values()) + [
                f["sequence_number"] for f in self._equality_deletes.get("files", [])
            ]
            if src_seqs:
                seq = max(seq, max(src_seqs) + 1)
        # spec evolution resolves BEFORE any manifest writes so every
        # manifest this sync is tagged with the (possibly new) spec id
        self._spec_id, self._all_specs, self._last_partition_id = (
            self._resolve_partition_specs(meta)
        )

        current, current_all_deletes = self._current_live_entries(meta)
        current_deletes = [
            e for e in current_all_deletes if e["data_file"]["content"] == 1
        ]
        current_eq = [e for e in current_all_deletes if e["data_file"]["content"] == 2]
        if self._snapshot_rows is not None:
            # snapshot-as-diff (model/files_diff): the full snapshot
            # against the live manifest entries, keyed by path
            added, gone = files_diff(
                self._snapshot_rows,
                current,
                self.base_path,
                lambda r: r["physical_path"],
                lambda e: e["data_file"]["file_path"],
            )
            gone_paths = {e["data_file"]["file_path"] for e in gone}
            survivors = [e for e in current if e["data_file"]["file_path"] not in gone_paths]
            entries = survivors + [
                self._entry_from_row(r, snapshot_id, seq, status=1) for r in added
            ]
            counts = (len(added), len(survivors), len(current) - len(survivors))
            # full restatement: prior delete files are replaced wholesale
            # by this snapshot's row_deletes (if any)
            delete_entries = self._new_delete_entries(snapshot_id, seq)
        else:
            survivors = [
                e
                for e in current
                if relativize(e["data_file"]["file_path"], self.base_path) not in self._removed_paths
            ]
            n_added = 0
            entries = list(survivors)
            for r in self._adds or ():
                entries.append(self._entry_from_row(r, snapshot_id, seq, status=1))
                n_added += 1
            counts = (n_added, len(survivors), len(current) - len(survivors))
            # row_deletes restates the COMPLETE delete set: rebuild the
            # delete manifests from it, reusing a carried entry when the
            # same delete file re-appears (keeps its original sequence
            # number). A changed set supersedes (new path, same stem), a
            # vanished set (RESTORE) or a removed data file drops its
            # stale entry — nothing dangles. Channel inactive (None):
            # legacy carry-forward.
            if self._row_deletes is not None:
                new_deletes = self._new_delete_entries(snapshot_id, seq)
                by_path = {e["data_file"]["file_path"]: e for e in current_deletes}
                delete_entries = [
                    by_path.get(e["data_file"]["file_path"], e) for e in new_deletes
                ]
            else:
                delete_entries = list(current_deletes)

        if self._equality_deletes is not None:
            # channel active: the complete equality set restates (stale
            # carried content=2 entries drop), and this sync's NEW data
            # entries inherit the SOURCE's sequence numbers so the strict
            # `delete_seq > data_seq` rule is preserved verbatim
            seq_map = self._equality_deletes.get("data_sequences", {})
            for e in entries:
                src_seq = seq_map.get(e["data_file"]["file_path"])
                if src_seq is not None and e.get("snapshot_id") == snapshot_id:
                    e["sequence_number"] = src_seq
                    e["file_sequence_number"] = src_seq
            delete_entries = delete_entries + self._equality_entries(snapshot_id)
        else:
            # legacy carry-forward, same posture as position deletes
            delete_entries = delete_entries + list(current_eq)

        # carried-forward entries become EXISTING
        for e in entries + delete_entries:
            if e.get("status") == 1 and e.get("snapshot_id") != snapshot_id:
                e["status"] = 0

        # v3 row lineage (spec "Row Lineage"): every data file carries an
        # EXPLICIT first_row_id — new files draw a contiguous
        # [next-row-id, +record_count) range; carried files keep the id
        # they were assigned (stable row ids across commits). A file
        # carried from pre-v3 commits (format upgrade) has none yet and is
        # assigned on this first v3 commit — explicit materialization, so
        # the ids are stable from then on. Delete manifests never carry
        # row ids. The snapshot's first-row-id and the advanced table
        # next-row-id land in _write_table_metadata.
        self._first_row_id = None
        self._next_row_id = None
        if self.format_version >= 3:
            start = int((meta or {}).get("next-row-id") or 0)
            self._first_row_id = start
            # row-lineage channel first: id-less files named in the mapping
            # take the SOURCE's range verbatim (ids survive conversion);
            # fresh assignment then starts above BOTH the table's own
            # watermark and every preserved range
            provided = self._row_lineage or {}
            fr = start
            for e in entries:
                df = e["data_file"]
                if df.get("first_row_id") is None:
                    src_id = provided.get(df["file_path"])
                    if src_id is not None:
                        df["first_row_id"] = int(src_id)
                        fr = max(fr, int(src_id) + int(df.get("record_count") or 0))
            for e in entries:
                df = e["data_file"]
                if df.get("first_row_id") is None:
                    df["first_row_id"] = fr
                    fr += int(df.get("record_count") or 0)
            for e in delete_entries:
                e["data_file"].setdefault("first_row_id", None)
            self._next_row_id = fr
            # disjointness is a spec invariant — a channel activated on a
            # table that already assigned its OWN ids can collide; refuse
            # at commit time rather than write overlapping lineage
            spans = sorted(
                (
                    int(e["data_file"]["first_row_id"]),
                    int(e["data_file"]["first_row_id"])
                    + int(e["data_file"].get("record_count") or 0),
                    e["data_file"]["file_path"],
                )
                for e in entries
            )
            for (a0, a1, ap), (b0, _b1, bp) in zip(spans, spans[1:]):
                if b0 < a1:
                    raise ValueError(
                        "row-id ranges would overlap: "
                        f"{ap} [{a0},{a1}) vs {bp} starting {b0} — enable the "
                        "row-lineage channel at table creation, not mid-life"
                    )

        # standard snapshot summary size/count stats (real Iceberg writers
        # emit these; readers — incl. the engine's maxBytesPerTrigger
        # stream pacing — size micro-batches from them)
        added_entries = [
            e for e in entries if e.get("snapshot_id") == snapshot_id and e.get("status") == 1
        ]
        survivor_paths = {e["data_file"]["file_path"] for e in entries}
        removed_entries = [
            e for e in current if e["data_file"]["file_path"] not in survivor_paths
        ]
        self._summary_stats = {
            "added-data-files": str(len(added_entries)),
            "added-files-size": str(
                sum(int(e["data_file"].get("file_size_in_bytes") or 0) for e in added_entries)
            ),
            "added-records": str(
                sum(int(e["data_file"].get("record_count") or 0) for e in added_entries)
            ),
            "deleted-data-files": str(len(removed_entries)),
            "removed-files-size": str(
                sum(int(e["data_file"].get("file_size_in_bytes") or 0) for e in removed_entries)
            ),
            "total-data-files": str(len(entries)),
        }

        manifests = self._write_manifests(entries, snapshot_id, seq, counts[2])
        if delete_entries:
            manifests += self._write_manifests(
                delete_entries, snapshot_id, seq, 0, content=1
            )
        list_path = self._write_manifest_list(manifests, snapshot_id, seq)
        self._write_table_metadata(meta, snapshot_id, seq, list_path, now_ms)
        self._committed_snapshot = snapshot_id
        return snapshot_id

    def _new_delete_entries(self, snapshot_id: int, seq: int) -> list[dict]:
        """ROW_DELETES_SCHEMA rows -> v2 position-delete manifest entries
        (content=1) at this commit's sequence number — which satisfies the
        spec application rule delete_seq >= data_seq for every data file
        committed at or before this sequence."""
        rows = self._row_deletes
        if not rows:
            return []
        if self.format_version >= 3:
            return self._new_dv_entries(rows, snapshot_id, seq)
        out = []
        for row in rows:
            pv = dict(row["partition_values"] or {})
            out.append(
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 1,
                        "file_path": row["positions_path"],
                        "file_format": "PARQUET",
                        "partition": self._iceberg_partition(pv),
                        "record_count": row["delete_count"] or 0,
                        "file_size_in_bytes": (
                            os.path.getsize(row["positions_path"])
                            if os.path.exists(row["positions_path"])
                            else 0
                        ),
                    },
                }
            )
        return out

    def _equality_entries(self, snapshot_id: int) -> list[dict]:
        """Equality-delete channel -> content=2 manifest entries: the
        SOURCE's physical delete files re-register with their equality
        columns mapped into this table's field ids (stable across the
        relay via xtable.fieldId) and their source sequence numbers
        preserved. Global (partition-less) equality deletes on a
        PARTITIONED table refuse loudly: the spec scopes them via an
        unpartitioned spec this writer does not emit — lowering
        (expose_equality_deletes=False) handles that case instead."""
        eq = self._equality_deletes
        files = eq.get("files") or []
        if not files:
            return []
        ids = {f["name"]: f["id"] for f in schema_to_iceberg_fields(self._schema)}
        partitioned = bool(getattr(self, "_partition_fields", None))
        out = []
        for f in files:
            pv = dict(f.get("partition") or {})
            if partitioned and not pv:
                raise NotImplementedError(
                    f"global equality delete {f['file_path']} cannot be "
                    "relayed onto a partitioned table (needs an "
                    "unpartitioned spec); convert with "
                    "expose_equality_deletes=False to lower it to positions"
                )
            eq_ids = []
            for name in f["equality_columns"]:
                fid = ids.get(name)
                if fid is None:
                    raise ValueError(
                        f"equality delete column {name!r} is not in the "
                        "target schema"
                    )
                eq_ids.append(fid)
            src_seq = int(f["sequence_number"])
            out.append(
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": src_seq,
                    "file_sequence_number": src_seq,
                    "data_file": {
                        "content": 2,
                        "file_path": f["file_path"],
                        # relayed delete files keep their source format —
                        # hard-coding PARQUET mis-tagged ORC/AVRO equality
                        # files for downstream readers (ADVICE r8)
                        "file_format": str(f.get("file_format") or "PARQUET").upper(),
                        "partition": self._iceberg_partition(pv),
                        "record_count": f.get("record_count") or 0,
                        "file_size_in_bytes": f.get("file_size") or 0,
                        "equality_ids": eq_ids,
                    },
                }
            )
        return out

    def _new_dv_entries(self, rows: list, snapshot_id: int, seq: int) -> list[dict]:
        """v3 deletion vectors: one puffin file for this commit's complete
        delete state, one deletion-vector-v1 blob per covered data file,
        one content=1 manifest entry per blob referencing it via
        (referenced_data_file, content_offset, content_size_in_bytes)."""
        import pyarrow.parquet as pq

        from incubator_xtable_spark.model.puffin import (
            DELETION_VECTOR_V1,
            dv_blob_bytes,
            write_puffin,
        )

        blobs = []
        for row in rows:
            positions = (
                pq.read_table(row["positions_path"], columns=["pos"])["pos"]
                .to_numpy(zero_copy_only=False)
            )
            blobs.append(
                (
                    DELETION_VECTOR_V1,
                    dv_blob_bytes(positions),
                    {
                        "referenced-data-file": row["data_file_path"],
                        "cardinality": int(row["delete_count"] or len(positions)),
                    },
                )
            )
        puffin_path = os.path.join(
            metadata_dir(self.base_path), f"{uuid.uuid4().hex}-deletes.puffin"
        )
        metas = write_puffin(
            puffin_path, blobs, snapshot_id=snapshot_id, sequence_number=seq
        )
        puffin_size = os.path.getsize(puffin_path)
        out = []
        for row, meta in zip(rows, metas):
            pv = dict(row["partition_values"] or {})
            out.append(
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 1,
                        "file_path": puffin_path,
                        "file_format": "PUFFIN",
                        "partition": self._iceberg_partition(pv),
                        "record_count": row["delete_count"] or 0,
                        "file_size_in_bytes": puffin_size,
                        "referenced_data_file": row["data_file_path"],
                        "content_offset": meta["offset"],
                        "content_size_in_bytes": meta["length"],
                    },
                }
            )
        return out

    def _entry_from_row(self, row, snapshot_id: int, seq: int, status: int) -> dict:
        from incubator_xtable_spark.model.file_formats import to_iceberg_manifest

        pv = dict(row["partition_values"] or {})
        # inventory tag -> manifest spelling (PARQUET/ORC/AVRO): an ORC file
        # arriving from a Delta provider=orc table registers as ORC, not a
        # silent PARQUET mis-tag (ref delta/DeltaActionsConverter.java:91-97)
        fmt = to_iceberg_manifest(row["file_format"])
        data_file = {
            "content": 0,
            "file_path": row["physical_path"],
            "file_format": fmt,
            "partition": self._iceberg_partition(pv),
            "record_count": row["record_count"] or 0,
            "file_size_in_bytes": row["size_bytes"],
        }
        data_file.update(self._stats_maps(row))
        return {
            "status": status,
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": data_file,
        }

    def _stats_maps(self, row) -> dict:
        """Inventory column_stats -> spec bounds/null-count maps keyed by
        field id (IcebergColumnStatsConverter.java:53-87 semantics)."""
        from incubator_xtable_spark.model.iceberg_values import to_iceberg_bytes
        from incubator_xtable_spark.model.stat_codec import decode_stat

        col_stats = row["column_stats"]
        if not col_stats or self._schema is None:
            return {}
        ids = {f["name"]: f["id"] for f in schema_to_iceberg_fields(self._schema)}
        types = {f.name: f.dataType for f in self._schema.fields}
        lower, upper, nulls, values = [], [], [], []
        record_count = row["record_count"] or 0
        for name, st in col_stats.items():
            fid = ids.get(name)
            dtype = types.get(name)
            if fid is None or dtype is None:
                continue
            mn = decode_stat(st["min_json"], dtype) if st["min_json"] else None
            mx = decode_stat(st["max_json"], dtype) if st["max_json"] else None
            if mn is not None:
                lower.append({"key": fid, "value": to_iceberg_bytes(mn, dtype)})
            if mx is not None:
                upper.append({"key": fid, "value": to_iceberg_bytes(mx, dtype)})
            if st["null_count"] is not None:
                nulls.append({"key": fid, "value": int(st["null_count"])})
            values.append({"key": fid, "value": int(record_count)})
        out = {}
        if lower:
            out["lower_bounds"] = sorted(lower, key=lambda e: e["key"])
        if upper:
            out["upper_bounds"] = sorted(upper, key=lambda e: e["key"])
        if nulls:
            out["null_value_counts"] = sorted(nulls, key=lambda e: e["key"])
        if values:
            out["value_counts"] = sorted(values, key=lambda e: e["key"])
        return out

    def _current_live_entries(self, meta: Optional[dict]) -> tuple[list[dict], list[dict]]:
        """(data, delete) entries live at this target's branch head, with
        inheritance materialized (a foreign writer's null sequence numbers
        and first_row_ids resolve here, or the next commit would rewrite
        them as EXISTING nulls and reassign row ids)."""
        if meta is None:
            return [], []
        # carry-forward base = THIS TARGET'S BRANCH head: a second staged
        # commit must build on the first staged snapshot, not on main
        # (keying on current-snapshot-id silently dropped every file the
        # earlier staged commits added — caught by self-review r10)
        head = ((meta.get("refs") or {}).get(self.branch) or {}).get(
            "snapshot-id"
        ) or meta.get("current-snapshot-id")
        if not head or head == -1:
            return [], []
        return live_entries(meta, head)

    # entries per manifest file: bounds each driver-side avro write (and
    # the encode buffer behind it) — a 10M-file snapshot becomes 100
    # manifests in one manifest list, the spec's own fan-out, instead of
    # one giant file
    MANIFEST_CHUNK = 100_000

    def _typed_partition_cols(self) -> list:
        from incubator_xtable_spark.functions.partition_transforms import (
            iceberg_partition_avro_type,
        )

        pfs = getattr(self, "_partition_fields", None) or []
        by_name = {pf.output_name: pf for pf in pfs}
        return [
            (c, iceberg_partition_avro_type(by_name[c])) if c in by_name else c
            for c in self._partition_cols
        ]

    def _iceberg_partition(self, pv: dict) -> dict:
        """Inventory partition strings -> spec-native manifest values."""
        from incubator_xtable_spark.functions.partition_transforms import (
            to_iceberg_partition_value,
        )

        pfs = getattr(self, "_partition_fields", None) or []
        by_name = {pf.output_name: pf for pf in pfs}
        out = {}
        for c in self._partition_cols:
            raw = pv.get(c)
            out[c] = (
                to_iceberg_partition_value(raw, by_name[c]) if c in by_name else raw
            )
        return out

    def _write_manifest(
        self, entries: list[dict], snapshot_id: int, seq: int, content: int = 0
    ) -> tuple[str, int]:
        path = os.path.join(metadata_dir(self.base_path), f"{uuid.uuid4().hex}-m0.avro")
        schema_json = manifest_entry_schema(self._typed_partition_cols(), self.format_version)
        length = write_ocf(
            path,
            schema_json,
            entries,
            extra_meta={
                "schema": json.dumps(self._iceberg_schema_json()),
                "partition-spec": json.dumps(self._partition_spec_json()["fields"]),
                "partition-spec-id": str(getattr(self, "_spec_id", 0)),
                "format-version": str(self.format_version),
                "content": "deletes" if content == 1 else "data",
            },
        )
        return path, length

    def _write_manifests(
        self,
        entries: list[dict],
        snapshot_id: int,
        seq: int,
        deleted_count: int,
        content: int = 0,
    ) -> list[dict]:
        """Write entries as MANIFEST_CHUNK-sized manifest files and return
        one manifest-list record per file with spec-accurate per-manifest
        stats: carried-forward EXISTING entries keep their original
        (older) sequence numbers, so min_sequence_number is the minimum
        across that manifest's entries, and row counts split added (this
        snapshot) vs existing — readers prune on these (iceberg spec
        manifest-list fields 516/512-514)."""
        chunk_sz = self.MANIFEST_CHUNK
        chunks = [
            entries[i : i + chunk_sz] for i in range(0, len(entries), chunk_sz)
        ] or [[]]
        records = []
        for idx, chunk in enumerate(chunks):
            path, length = self._write_manifest(chunk, snapshot_id, seq, content)
            min_seq = min((e["sequence_number"] for e in chunk), default=seq)
            added = [e for e in chunk if e.get("snapshot_id") == snapshot_id]
            existing = [e for e in chunk if e.get("snapshot_id") != snapshot_id]
            records.append(
                {
                    "manifest_path": path,
                    "manifest_length": length,
                    "partition_spec_id": getattr(self, "_spec_id", 0),
                    "content": content,
                    "sequence_number": seq,
                    "min_sequence_number": min_seq,
                    "added_snapshot_id": snapshot_id,
                    "added_files_count": len(added),
                    "existing_files_count": len(existing),
                    # compacted-overwrite semantics write no DELETED
                    # entries; the snapshot-level deletion tally rides on
                    # the first manifest record (back-compat with the
                    # single-manifest layout)
                    "deleted_files_count": deleted_count if idx == 0 else 0,
                    "added_rows_count": sum(e["data_file"]["record_count"] for e in added),
                    "existing_rows_count": sum(
                        e["data_file"]["record_count"] for e in existing
                    ),
                    "deleted_rows_count": 0,
                }
            )
            if self.format_version >= 3:
                # v3 row lineage (field 520): the inheritance base for the
                # manifest — every file this writer emits carries an
                # explicit first_row_id, so the base is informational: the
                # smallest row id in the chunk (null for delete manifests)
                ids = [
                    e["data_file"].get("first_row_id")
                    for e in chunk
                    if content == 0 and e["data_file"].get("first_row_id") is not None
                ]
                records[-1]["first_row_id"] = min(ids) if ids else None
        return records

    def _write_manifest_list(self, manifest_records: list[dict], snapshot_id: int, seq: int) -> str:
        path = os.path.join(
            metadata_dir(self.base_path), f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
        )
        write_ocf(
            path,
            manifest_list_schema(self.format_version),
            manifest_records,
            extra_meta={"format-version": str(self.format_version)},
        )
        return path

    def _iceberg_schema_json(self) -> dict:
        return {
            "type": "struct",
            "schema-id": 0,
            "fields": schema_to_iceberg_fields(self._schema or T.StructType([])),
        }

    def _partition_spec_json(self) -> dict:
        """The CURRENT partition spec. After complete_sync's resolution
        this is the (possibly evolved) spec from the table's spec list;
        the fallback construction covers pre-resolution callers."""
        specs = getattr(self, "_all_specs", None)
        if specs:
            sid = getattr(self, "_spec_id", 0)
            return next(s for s in specs if s.get("spec-id", 0) == sid)
        from incubator_xtable_spark.functions.partition_transforms import to_iceberg_transform

        fields = schema_to_iceberg_fields(self._schema or T.StructType([]))
        by_name = {f["name"]: f["id"] for f in fields}
        pfs = getattr(self, "_partition_fields", None) or []
        return {
            "spec-id": 0,
            "fields": [
                {
                    "name": pf.output_name,
                    "transform": to_iceberg_transform(pf),
                    "source-id": by_name.get(pf.source_field, 0),
                    "field-id": 1000 + i,
                }
                for i, pf in enumerate(pfs)
            ],
        }

    def _sort_orders_json(
        self, schema_json: dict, prev: Optional[dict]
    ) -> tuple[int, list[dict]]:
        """(default-sort-order-id, sort-orders) for the metadata commit:
        when the SOURCE table declares a write sort order
        (InternalTable.sort_order — an Iceberg source extracts its
        default order), carry it through with source-ids remapped into
        THIS table's field ids by dot path, exactly like partition specs
        remap (spec "Sort Orders"; the reference drops declared orders).
        Sort orders are APPEND-ONLY definitions identified by order-id
        (data files and foreign writers may record sort_order_id): a
        changed source order appends the next id, an identical one
        reuses its existing id, and prior definitions are never
        redefined — the same evolution posture as
        _resolve_partition_specs. Unsorted tables flip the default back
        to order 0; an unresolvable member drops the whole order with a
        warning (a partial order is a wrong contract)."""
        prev_orders = [dict(o) for o in (prev or {}).get("sort-orders") or []]
        if not any(o.get("order-id") == 0 for o in prev_orders):
            prev_orders.insert(0, {"order-id": 0, "fields": []})
        empty = (0, prev_orders)
        sfs = getattr(self._table, "sort_order", None) if self._table else None
        if not sfs:
            return empty

        def _fid(fields: list, path: str):
            cur, fid = fields, None
            for part in path.split("."):
                f = next((x for x in cur if x.get("name") == part), None)
                if f is None:
                    return None
                fid = f.get("id")
                t = f.get("type")
                cur = t.get("fields", []) if isinstance(t, dict) else []
            return fid

        fields = []
        for sf in sfs:
            fid = _fid(schema_json.get("fields", []), sf.source_field)
            if fid is None:
                log.warning(
                    "declared sort order references %r which is absent "
                    "from the synced schema; writing the table unsorted",
                    sf.source_field,
                )
                return empty
            fields.append(
                {
                    "transform": sf.transform,
                    "source-id": fid,
                    "direction": sf.direction,
                    "null-order": sf.null_order,
                }
            )
        for o in prev_orders:
            if o.get("fields") == fields:
                return o["order-id"], prev_orders
        new_id = max(int(o.get("order-id", 0)) for o in prev_orders) + 1
        return new_id, prev_orders + [{"order-id": new_id, "fields": fields}]

    def _resolve_partition_specs(self, prev: Optional[dict]) -> tuple[int, list[dict], int]:
        """Partition-spec EVOLUTION on the write side: when the source's
        partition fields change between syncs, APPEND a new spec (next
        spec-id) and flip default-spec-id instead of silently redefining
        spec 0 under the old manifests' feet — field-ids are reused from
        any prior spec's matching (source-id, transform) so evolution
        keeps them stable (Iceberg spec rules; the matching half of the
        source's per-manifest resolution). Returns
        (current_spec_id, full spec list, last-partition-id)."""
        from incubator_xtable_spark.functions.partition_transforms import to_iceberg_transform

        fields = schema_to_iceberg_fields(self._schema or T.StructType([]))
        by_name = {f["name"]: f["id"] for f in fields}
        pfs = getattr(self, "_partition_fields", None) or []
        want = [
            {
                "name": pf.output_name,
                "transform": to_iceberg_transform(pf),
                "source-id": by_name.get(pf.source_field, 0),
            }
            for pf in pfs
        ]
        prev_specs = list((prev or {}).get("partition-specs") or [])
        prev_default_id = (prev or {}).get("default-spec-id", 0)
        prev_default = next(
            (s for s in prev_specs if s.get("spec-id", 0) == prev_default_id), None
        )

        def shape(spec_fields):
            return [
                (f["name"], f.get("transform"), f.get("source-id")) for f in spec_fields
            ]

        if prev_default is not None and shape(prev_default.get("fields", [])) == shape(want):
            return (
                prev_default_id,
                prev_specs,
                int((prev or {}).get("last-partition-id", 999)),
            )
        last_pid = max(
            [int((prev or {}).get("last-partition-id", 999))]
            + [
                int(f.get("field-id", 999))
                for s in prev_specs
                for f in s.get("fields", [])
            ]
            + [999]
        )
        reuse: dict[tuple, int] = {}
        for s in prev_specs:
            for f in s.get("fields", []):
                reuse.setdefault(
                    (f.get("source-id"), f.get("transform")), f.get("field-id")
                )
        out_fields = []
        for w in want:
            fid = reuse.get((w["source-id"], w["transform"]))
            if fid is None:
                last_pid += 1
                fid = last_pid
            out_fields.append(dict(w, **{"field-id": fid}))
        spec_id = (
            max((int(s.get("spec-id", 0)) for s in prev_specs), default=-1) + 1
            if prev_specs
            else 0
        )
        return spec_id, prev_specs + [{"spec-id": spec_id, "fields": out_fields}], last_pid

    def _write_table_metadata(
        self, prev: Optional[dict], snapshot_id: int, seq: int, list_path: str, now_ms: int
    ) -> None:
        version = (current_metadata_version(self.base_path) or 0) + 1
        schema_json = self._iceberg_schema_json()

        # schema-evolution HISTORY (spec: `schemas` is the full list and
        # snapshots record the schema-id they were written under): an
        # unchanged schema reuses its id; a changed one appends with the
        # next id — prior schemas stay resolvable so time travel reads
        # the schema each snapshot actually had
        prev_schemas = list((prev or {}).get("schemas") or [])
        match = next(
            (s for s in prev_schemas if s.get("fields") == schema_json["fields"]), None
        )
        if match is not None:
            current_schema_id = int(match.get("schema-id", 0))
            schemas_out = prev_schemas
        else:
            current_schema_id = (
                max((int(s.get("schema-id", 0)) for s in prev_schemas), default=-1) + 1
            )
            schema_json = dict(schema_json, **{"schema-id": current_schema_id})
            schemas_out = prev_schemas + [schema_json]
        if not schemas_out:
            schemas_out = [schema_json]

        # spec: last-column-id is the highest id assigned ANYWHERE in the
        # schema — nested struct members and collection element/key/value
        # ids included (top-level-only would let evolution recycle them);
        # never regress below the previous table's watermark either
        def _deep_max(t: Any, best: int) -> int:
            if isinstance(t, dict):
                if t.get("type") == "struct":
                    for f in t.get("fields", []):
                        best = max(best, int(f["id"]))
                        best = _deep_max(f["type"], best)
                elif t.get("type") == "list":
                    best = max(best, int(t["element-id"]))
                    best = _deep_max(t["element"], best)
                elif t.get("type") == "map":
                    best = max(best, int(t["key-id"]), int(t["value-id"]))
                    best = _deep_max(t["key"], best)
                    best = _deep_max(t["value"], best)
            return best

        last_column_id = _deep_max({"type": "struct", "fields": schema_json["fields"]}, 0)
        if prev is not None:
            last_column_id = max(last_column_id, int(prev.get("last-column-id") or 0))
        properties = dict((prev or {}).get("properties") or {})
        if self._metadata_json is not None:
            properties[XTABLE_METADATA_KEY] = self._metadata_json
        if self._schema is not None and len(self._schema.fields):
            # converted data files carry no iceberg field ids; the name
            # mapping keeps them readable by id-based engines
            properties[NAME_MAPPING_PROP] = json.dumps(name_mapping_json(self._schema))
        # the new snapshot's parent is the BRANCH head (a staged branch
        # advances its own lineage); a branch's first staged commit forks
        # from main's current head
        prev_refs = (prev or {}).get("refs") or {}
        branch_head = (prev_refs.get(self.branch) or {}).get("snapshot-id")
        snapshot = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": branch_head
            if branch_head is not None
            else (prev or {}).get("current-snapshot-id"),
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": list_path,
            "summary": {
                "operation": self._summary_operation
                or ("overwrite" if prev else "append"),
                **getattr(self, "_summary_stats", {}),
            },
            "schema-id": current_schema_id,
        }
        # v3 row lineage: the snapshot records where its row-id range
        # starts; the table metadata's next-row-id advances past every id
        # this commit assigned (spec: "Row Lineage")
        if self.format_version >= 3 and getattr(self, "_first_row_id", None) is not None:
            snapshot["first-row-id"] = self._first_row_id
        if snapshot.get("parent-snapshot-id") in (None, -1):
            snapshot.pop("parent-snapshot-id", None)
        sort_order_id, sort_orders = self._sort_orders_json(schema_json, prev)
        # the previous head's ACTUAL path (a catalog-written table's head
        # is 0000N-<uuid>[.gz].metadata.json, not v{N}) — metadata-log
        # entries must reference real files or time travel breaks
        prev_path = resolve_current_metadata_path(self.base_path) or os.path.join(
            metadata_dir(self.base_path), f"v{version - 1}.metadata.json"
        )
        metadata_log = (prev or {}).get("metadata-log", []) + (
            [
                {
                    "timestamp-ms": (prev or {}).get("last-updated-ms", now_ms),
                    "metadata-file": prev_path,
                }
            ]
            if prev is not None
            else []
        )
        # spec property write.metadata.previous-versions-max (default
        # 100): bound the tracked previous versions so metadata.json
        # doesn't grow one entry per commit forever;
        # write.metadata.delete-after-commit.enabled additionally unlinks
        # the dropped files once the new version lands
        keep_prev = int(properties.get("write.metadata.previous-versions-max", 100))
        dropped_meta_files = [
            e.get("metadata-file")
            for e in metadata_log[: max(0, len(metadata_log) - keep_prev)]
        ]
        metadata_log = metadata_log[-keep_prev:] if keep_prev > 0 else []
        meta = {
            "format-version": self.format_version,
            "table-uuid": (prev or {}).get("table-uuid", str(uuid.uuid4())),
            "location": self.base_path,
            "last-sequence-number": seq,
            "last-updated-ms": now_ms,
            "last-column-id": last_column_id,
            "current-schema-id": current_schema_id,
            "schemas": schemas_out,
            "default-spec-id": getattr(self, "_spec_id", 0),
            "partition-specs": getattr(self, "_all_specs", None)
            or [self._partition_spec_json()],
            "last-partition-id": getattr(
                self, "_last_partition_id", 1000 + max(len(self._partition_cols) - 1, 0)
            ),
            "default-sort-order-id": sort_order_id,
            "sort-orders": sort_orders,
            "properties": properties,
            # current-snapshot-id / snapshot-log track MAIN; a staged
            # branch commit leaves them untouched (-1 = no main head yet,
            # e.g. a table whose every commit so far is staged)
            "current-snapshot-id": snapshot_id
            if self.branch == "main"
            else (prev or {}).get("current-snapshot-id", -1),
            "snapshots": (prev or {}).get("snapshots", []) + [snapshot],
            "snapshot-log": (prev or {}).get("snapshot-log", [])
            + (
                [{"timestamp-ms": now_ms, "snapshot-id": snapshot_id}]
                if self.branch == "main"
                else []
            ),
            # spec: previous metadata files, oldest first (readers use it
            # for metadata time travel), bounded by
            # write.metadata.previous-versions-max above
            "metadata-log": metadata_log,
            # statistics entries describe prior snapshots, which this
            # commit keeps — carry them forward (write_ndv_statistics /
            # write_partition_statistics append the new snapshot's
            # entries separately)
            "statistics": (prev or {}).get("statistics", []),
            "partition-statistics": (prev or {}).get("partition-statistics", []),
            # advance THIS target's branch ref; preserve every other
            # branch/tag an external writer created (spec `refs`)
            "refs": {
                **{name: r for name, r in prev_refs.items() if name != self.branch},
                self.branch: {"snapshot-id": snapshot_id, "type": "branch"},
            },
        }
        if self.format_version >= 3:
            assigned = getattr(self, "_next_row_id", None)
            prev_next = int((prev or {}).get("next-row-id") or 0)
            # monotone: never regress below what an earlier commit handed out
            meta["next-row-id"] = max(prev_next, assigned if assigned is not None else 0)
        final = os.path.join(metadata_dir(self.base_path), f"v{version}.metadata.json")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise RuntimeError(f"concurrent iceberg commit at version {version}") from exc
        finally:
            os.unlink(tmp)
        with open(os.path.join(metadata_dir(self.base_path), "version-hint.text"), "w") as fh:
            fh.write(str(version))
        # only AFTER the new version landed: physically drop metadata
        # files that fell off the bounded metadata-log, when opted in
        if (
            str(properties.get("write.metadata.delete-after-commit.enabled", "")).lower()
            == "true"
        ):
            for p in dropped_meta_files:
                if p and os.path.exists(p):
                    try:
                        os.unlink(p)
                    except OSError:
                        pass  # best-effort; an orphan file is harmless

    # -- metadata read-back ------------------------------------------------

    def get_table_metadata(self) -> Optional[TableSyncMetadata]:
        meta = read_table_metadata(self.base_path)
        if meta is None:
            return None
        raw = (meta.get("properties") or {}).get(XTABLE_METADATA_KEY)
        return TableSyncMetadata.from_json(raw) if raw else None

    def get_target_commit_identifier(self) -> Optional[str]:
        return str(self._committed_snapshot) if self._committed_snapshot else None
