"""Paimon conversion source: reads a Paimon FileStore table's metadata
tree (schema/schema-N JSON -> snapshot/snapshot-N JSON -> manifest-list
avro -> manifest avro -> BinaryRow-encoded partitions/stats) directly —
the environment has no Paimon jars, so the on-disk format is implemented
from the public Paimon spec (no Paimon code involved).

Reference parity (behavior mirrored, file:line into /root/reference):
- table extraction (schema at snapshot.schemaId, identity partition
  fields, HIVE_STYLE layout)     paimon/PaimonConversionSource.java:70-95
- snapshot scan (full base+delta manifest merge; primary-key tables read
  only top-level i.e. fully-compacted files)
                                 paimon/PaimonDataFileExtractor.java:58-66,155-168
- commit diff (delta manifests only; ADD -> added, DELETE -> removed;
  PK tables skip non-top levels) paimon/PaimonDataFileExtractor.java:108-153
- commits backlog (snapshots strictly after the last-synced instant)
                                 paimon/PaimonConversionSource.java:139-175
- incremental-safety (future instant / expired snapshots -> unsafe)
                                 paimon/PaimonConversionSource.java:177-221
- schema extraction              paimon/PaimonSchemaExtractor.java:71-231
- stats extraction (valueStats min/max/nullCounts + valueStatsCols)
                                 paimon/PaimonStatsExtractor.java:53-187
- partition values + hive path (key=value, default name for null)
                                 paimon/PaimonPartitionExtractor.java:63-88

Design deltas (documented, Spark-first):
- commit handles and InternalSnapshot.version are snapshot-id strings
  (the reference uses timeMillis; ids are the same total order, without
  same-millisecond collisions, and match the repo's Iceberg convention);
- the file inventory is a driver-held ``pyarrow.Table``
  (FILE_INVENTORY_ARROW), like the reference's InternalDataFile lists.

Scale posture: manifest avro files are read driver-side through the JVM
(same posture as the Iceberg source — one manifest is ~O(10k) entries of
metadata, and manifest-list fan-out is bounded by Paimon's own manifest
compaction); the data files themselves are never touched except via
distributed Spark scans in read_paimon_as_df.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import uuid
from typing import Any, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_xtable_spark.model import schema_meta
from incubator_xtable_spark.model.avro_codec import read_ocf
from incubator_xtable_spark.model.core import (
    CommitsBacklog,
    DataLayoutStrategy,
    FILE_INVENTORY_ARROW,
    InstantsForIncrementalSync,
    InternalPartitionField,
    InternalSnapshot,
    InternalTable,
    PartitionTransformType,
    TableChange,
    TableFormat,
    arrow_table,
    column,
)
from incubator_xtable_spark.model.files_diff import with_file_paths
from incubator_xtable_spark.model.paimon_binary import (
    PaimonFieldType,
    decode_binary_row,
    decode_long_array,
)
from incubator_xtable_spark.model.stat_codec import encode_stat

DEFAULT_PARTITION_NAME = "__DEFAULT_PARTITION__"  # CoreOptions partition.default-name

FILE_KIND_ADD = 0
FILE_KIND_DELETE = 1

# ---------------------------------------------------------------------------
# Avro schemas for manifest-list / manifest files. Field names follow the
# public RowTypes of ManifestFileMeta.SCHEMA / ManifestEntry.SCHEMA /
# DataFileMeta.SCHEMA (leading-underscore convention); records carry the
# Paimon avro record name. Shared with the test fixture writer.
# ---------------------------------------------------------------------------

SIMPLE_STATS_SCHEMA = {
    "type": "record",
    "name": "SimpleStats",
    "namespace": "org.apache.paimon.avro.generated",
    "fields": [
        {"name": "_MIN_VALUES", "type": "bytes"},
        {"name": "_MAX_VALUES", "type": "bytes"},
        {"name": "_NULL_COUNTS", "type": "bytes"},
    ],
}

MANIFEST_LIST_AVRO_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "record",
        "namespace": "org.apache.paimon.avro.generated",
        "fields": [
            {"name": "_VERSION", "type": "int"},
            {"name": "_FILE_NAME", "type": "string"},
            {"name": "_FILE_SIZE", "type": "long"},
            {"name": "_NUM_ADDED_FILES", "type": "long"},
            {"name": "_NUM_DELETED_FILES", "type": "long"},
            {"name": "_PARTITION_STATS", "type": SIMPLE_STATS_SCHEMA},
            {"name": "_SCHEMA_ID", "type": "long"},
        ],
    }
)

MANIFEST_AVRO_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "record",
        "namespace": "org.apache.paimon.avro.generated",
        "fields": [
            {"name": "_VERSION", "type": "int"},
            {"name": "_KIND", "type": "int"},
            {"name": "_PARTITION", "type": "bytes"},
            {"name": "_BUCKET", "type": "int"},
            {"name": "_TOTAL_BUCKETS", "type": "int"},
            {
                "name": "_FILE",
                "type": {
                    "type": "record",
                    "name": "DataFileMeta",
                    "namespace": "org.apache.paimon.avro.generated",
                    "fields": [
                        {"name": "_FILE_NAME", "type": "string"},
                        {"name": "_FILE_SIZE", "type": "long"},
                        {"name": "_ROW_COUNT", "type": "long"},
                        {"name": "_MIN_KEY", "type": "bytes"},
                        {"name": "_MAX_KEY", "type": "bytes"},
                        # first use defines the named record; the second
                        # references it by name (standard Avro)
                        {"name": "_KEY_STATS", "type": SIMPLE_STATS_SCHEMA},
                        {"name": "_VALUE_STATS", "type": "SimpleStats"},
                        {"name": "_MIN_SEQUENCE_NUMBER", "type": "long"},
                        {"name": "_MAX_SEQUENCE_NUMBER", "type": "long"},
                        {"name": "_SCHEMA_ID", "type": "long"},
                        {"name": "_LEVEL", "type": "int"},
                        {"name": "_EXTRA_FILES", "type": {"type": "array", "items": "string"}},
                        {"name": "_CREATION_TIME", "type": "long"},
                        {"name": "_DELETE_ROW_COUNT", "type": ["null", "long"], "default": None},
                        {"name": "_EMBEDDED_FILE_INDEX", "type": ["null", "bytes"], "default": None},
                        {"name": "_FILE_SOURCE", "type": ["null", "int"], "default": None},
                        {
                            "name": "_VALUE_STATS_COLS",
                            "type": ["null", {"type": "array", "items": "string"}],
                            "default": None,
                        },
                        {"name": "_EXTERNAL_PATH", "type": ["null", "string"], "default": None},
                    ],
                },
            },
        ],
    }
)


# Index manifest (snapshot.indexManifest): IndexManifestEntry.SCHEMA —
# per (partition, bucket) index files; DELETION_VECTORS entries carry the
# per-data-file (offset, length, cardinality) ranges into the index file.
INDEX_MANIFEST_AVRO_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "record",
        "namespace": "org.apache.paimon.avro.generated",
        "fields": [
            {"name": "_VERSION", "type": "int"},
            {"name": "_KIND", "type": "int"},
            {"name": "_PARTITION", "type": "bytes"},
            {"name": "_BUCKET", "type": "int"},
            {"name": "_INDEX_TYPE", "type": "string"},
            {"name": "_FILE_NAME", "type": "string"},
            {"name": "_FILE_SIZE", "type": "long"},
            {"name": "_ROW_COUNT", "type": "long"},
            {
                "name": "_DELETION_VECTORS_RANGES",
                "type": [
                    "null",
                    {
                        "type": "array",
                        "items": {
                            "type": "record",
                            "name": "DeletionVectorMeta",
                            "namespace": "org.apache.paimon.avro.generated",
                            "fields": [
                                {"name": "_FILE_NAME", "type": "string"},
                                {"name": "_OFFSET", "type": "int"},
                                {"name": "_LENGTH", "type": "int"},
                                {
                                    "name": "_CARDINALITY",
                                    "type": ["null", "long"],
                                    "default": None,
                                },
                            ],
                        },
                    },
                ],
                "default": None,
            },
        ],
    }
)


# ---------------------------------------------------------------------------
# Paimon SQL type strings -> (Spark type, codec type)
# ---------------------------------------------------------------------------


def _split_top(s: str, sep: str = ",") -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def parse_paimon_type(type_str: str) -> tuple[T.DataType, Optional[PaimonFieldType], bool]:
    """Parse a Paimon SQL type string into (spark type, codec type,
    nullable). Mirrors PaimonSchemaExtractor.java:108-231's type mapping.
    """
    s = type_str.strip()
    nullable = True
    upper = s.upper()
    if upper.endswith(" NOT NULL"):
        nullable = False
        s = s[: -len(" NOT NULL")].strip()
        upper = s.upper()
    if upper.startswith("ROW<") or upper.startswith("ROW("):
        inner = s[4:-1]
        fields = []
        for part in _split_top(inner):
            m = re.match(r"`?([^`\s]+)`?\s+(.+)", part.strip())
            name, sub = m.group(1), m.group(2)
            sub_t, _, sub_null = parse_paimon_type(sub)
            fields.append(T.StructField(name, sub_t, sub_null))
        return T.StructType(fields), None, nullable
    if upper.startswith("ARRAY<"):
        el_t, _, el_null = parse_paimon_type(s[6:-1])
        return T.ArrayType(el_t, el_null), None, nullable
    if upper.startswith("MAP<"):
        k_s, v_s = _split_top(s[4:-1])
        k_t, _, _ = parse_paimon_type(k_s)
        v_t, _, v_null = parse_paimon_type(v_s)
        return T.MapType(k_t, v_t, v_null), None, nullable
    m = re.match(r"([A-Z_ ]+?)(\((\d+)(,\s*(\d+))?\))?( WITH LOCAL TIME ZONE)?$", upper)
    base = m.group(1).strip()
    p1 = int(m.group(3)) if m.group(3) else None
    p2 = int(m.group(5)) if m.group(5) else None
    ltz = bool(m.group(6))
    if base in ("CHAR", "VARCHAR", "STRING"):
        return T.StringType(), PaimonFieldType("string"), nullable
    if base == "BOOLEAN":
        return T.BooleanType(), PaimonFieldType("boolean"), nullable
    if base == "TINYINT":
        return T.ByteType(), PaimonFieldType("tinyint"), nullable
    if base == "SMALLINT":
        return T.ShortType(), PaimonFieldType("smallint"), nullable
    if base in ("INT", "INTEGER"):
        return T.IntegerType(), PaimonFieldType("int"), nullable
    if base == "BIGINT":
        return T.LongType(), PaimonFieldType("bigint"), nullable
    if base == "FLOAT":
        return T.FloatType(), PaimonFieldType("float"), nullable
    if base == "DOUBLE":
        return T.DoubleType(), PaimonFieldType("double"), nullable
    if base in ("BINARY", "VARBINARY", "BYTES"):
        return T.BinaryType(), PaimonFieldType("bytes"), nullable
    if base == "DATE":
        return T.DateType(), PaimonFieldType("date"), nullable
    if base == "DECIMAL" or base == "NUMERIC":
        p, sc = p1 or 10, p2 or 0
        return T.DecimalType(p, sc), PaimonFieldType("decimal", p, sc), nullable
    if base == "TIMESTAMP":
        precision = p1 if p1 is not None else 6
        spark_t = T.TimestampType() if ltz else T.TimestampNTZType()
        return spark_t, PaimonFieldType("timestamp", precision), nullable
    raise ValueError(f"unsupported Paimon type: {type_str!r}")


def paimon_fields_to_schema(fields: list[dict]) -> T.StructType:
    """schema/schema-N "fields" array -> StructType with field ids and
    timestamp precision riding in StructField metadata (repo convention,
    model/schema_meta.py)."""
    out = []
    for f in fields:
        dtype, codec, nullable = parse_paimon_type(f["type"])
        md: dict[str, Any] = {schema_meta.FIELD_ID: f["id"]}
        if codec is not None and codec.kind == "timestamp":
            md[schema_meta.TIMESTAMP_PRECISION] = (
                "MILLIS" if codec.precision <= 3 else ("MICROS" if codec.precision <= 6 else "NANOS")
            )
        out.append(T.StructField(f["name"], dtype, nullable, metadata=md))
    return T.StructType(out)


# ---------------------------------------------------------------------------


def format_partition_value(v: Any, dtype: T.DataType, options: dict) -> str:
    """InternalRowPartitionComputer.generatePartValues equivalent.

    Accepts codec-native values (date as days-int, timestamp as a
    (millis, nano_of_milli) tuple) AND Python date/datetime objects, so
    the test fixture's path builder and the manifest decoder render the
    SAME directory segment for a given value."""
    if v is None:
        return options.get("partition.default-name", DEFAULT_PARTITION_NAME)
    if isinstance(dtype, T.DateType):
        if isinstance(v, datetime.date):
            return v.isoformat()
        return (datetime.date(1970, 1, 1) + datetime.timedelta(days=int(v))).isoformat()
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(v, tuple):
            millis, nanos = v
            v = datetime.datetime(1970, 1, 1) + datetime.timedelta(
                milliseconds=millis, microseconds=nanos // 1000
            )
        # LocalDateTime.toString() shape (Paimon Timestamp.toString):
        # 'T' separator, seconds omitted when zero
        if v.second == 0 and v.microsecond == 0:
            return v.strftime("%Y-%m-%dT%H:%M")
        return v.isoformat()
    if isinstance(dtype, T.BooleanType):
        return "true" if v else "false"
    return str(v)


class PaimonConversionSource:
    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        name: Optional[str] = None,
        expose_row_deletes: bool = False,
        emit_row_changes: bool = False,
    ) -> None:
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.name = name or os.path.basename(self.base_path)
        # CDC channel: attach each commit's changelog to the TableChange
        self.emit_row_changes = emit_row_changes
        # True -> deletion-vector index entries flow through the row-delete
        # channel (ROW_DELETES_ARROW) instead of purged-shadow rewrites;
        # run_sync auto-enables when every target supports row deletes
        self.expose_row_deletes = expose_row_deletes

    # -- metadata tree -----------------------------------------------------

    def _snapshot_dir(self) -> str:
        return os.path.join(self.base_path, "snapshot")

    def _read_hint(self, hint: str) -> Optional[int]:
        p = os.path.join(self._snapshot_dir(), hint)
        if os.path.exists(p):
            with open(p) as fh:
                return int(fh.read().strip())
        return None

    def _snapshot_ids(self) -> list[int]:
        d = self._snapshot_dir()
        if not os.path.isdir(d):
            return []
        ids = [
            int(n[len("snapshot-") :])
            for n in os.listdir(d)
            if n.startswith("snapshot-") and n[len("snapshot-") :].isdigit()
        ]
        return sorted(ids)

    def latest_snapshot_id(self) -> Optional[int]:
        hint = self._read_hint("LATEST")
        if hint is not None:
            return hint
        ids = self._snapshot_ids()
        return ids[-1] if ids else None

    def earliest_snapshot_id(self) -> Optional[int]:
        hint = self._read_hint("EARLIEST")
        if hint is not None:
            return hint
        ids = self._snapshot_ids()
        return ids[0] if ids else None

    def _snapshot(self, snapshot_id: int) -> dict:
        p = os.path.join(self._snapshot_dir(), f"snapshot-{snapshot_id}")
        if not os.path.exists(p):
            # expired from snapshot/ but possibly pinned by a tag: each
            # tag file under tag/ is a FULL snapshot copy (spec layout),
            # so tagged history stays readable after snapshot expiration
            # (expiry deletes pointers, not manifests/data)
            for snap in list_paimon_tags(self.base_path).values():
                if snap.get("id") == snapshot_id:
                    return snap
        with open(p) as fh:
            return json.load(fh)

    def _schema(self, schema_id: int) -> dict:
        p = os.path.join(self.base_path, "schema", f"schema-{schema_id}")
        with open(p) as fh:
            return json.load(fh)

    def _latest(self) -> dict:
        sid = self.latest_snapshot_id()
        if sid is None:
            raise ValueError(f"No snapshots found for table {self.name}")
        return self._snapshot(sid)

    # -- manifests ---------------------------------------------------------

    def _read_manifest_list(self, name: str) -> list[dict]:
        if not name:
            return []
        return read_ocf(os.path.join(self.base_path, "manifest", name))[0]

    def _read_manifest(self, name: str) -> list[dict]:
        return read_ocf(os.path.join(self.base_path, "manifest", name))[0]

    def _entries_for_lists(self, list_names: list[str]) -> list[dict]:
        entries = []
        for ln in list_names:
            for mf in self._read_manifest_list(ln):
                entries.extend(self._read_manifest(mf["_FILE_NAME"]))
        return entries

    @staticmethod
    def _entry_key(e: dict) -> tuple:
        return (e["_PARTITION"], e["_BUCKET"], e["_FILE"]["_FILE_NAME"])

    def _merged_live_entries(self, snap: dict) -> list[dict]:
        """Full view at a snapshot: base + delta manifests merged, DELETE
        entries cancelling ADDs (SnapshotReader.readFileIterator
        equivalent)."""
        entries = self._entries_for_lists(
            [snap.get("baseManifestList") or "", snap.get("deltaManifestList") or ""]
        )
        live: dict[tuple, dict] = {}
        for e in entries:
            k = self._entry_key(e)
            if e["_KIND"] == FILE_KIND_ADD:
                live[k] = e
            else:
                live.pop(k, None)
        return list(live.values())

    # -- table / schema ----------------------------------------------------

    def _num_levels(self, options: dict) -> int:
        if "num-levels" in options:
            return int(options["num-levels"])
        trigger = int(options.get("num-sorted-run.compaction-trigger", 5))
        return trigger + 1

    def get_table(self, snapshot_id: int) -> InternalTable:
        snap = self._snapshot(snapshot_id)
        sch = self._schema(snap.get("schemaId", 0))
        schema = paimon_fields_to_schema(sch["fields"])
        part_fields = [
            InternalPartitionField(source_field=k, transform=PartitionTransformType.VALUE)
            for k in sch.get("partitionKeys") or []
        ]
        return InternalTable(
            name=self.name,
            table_format=TableFormat.PAIMON,
            base_path=self.base_path,
            read_schema=schema,
            partition_fields=part_fields,
            layout_strategy=(
                DataLayoutStrategy.HIVE_STYLE_PARTITION if part_fields else DataLayoutStrategy.FLAT
            ),
            latest_commit_time_ms=snap.get("timeMillis"),
            latest_metadata_path=os.path.join(self._snapshot_dir(), f"snapshot-{snapshot_id}"),
        )

    def get_current_table(self) -> InternalTable:
        sid = self.latest_snapshot_id()
        if sid is None:
            raise ValueError(f"No snapshots found for table {self.name}")
        return self.get_table(sid)

    # -- partition / stats decode -------------------------------------------

    def _partition_ctx(self, sch: dict) -> tuple[list[str], list[PaimonFieldType], list[T.DataType]]:
        keys = sch.get("partitionKeys") or []
        by_name = {f["name"]: f for f in sch["fields"]}
        codecs, dtypes = [], []
        for k in keys:
            dt, codec, _ = parse_paimon_type(by_name[k]["type"])
            codecs.append(codec)
            dtypes.append(dt)
        return keys, codecs, dtypes

    def _partition_value_str(self, v: Any, dtype: T.DataType, options: dict) -> str:
        return format_partition_value(v, dtype, options)

    def _decode_partition(
        self, raw: Any, keys: list[str], codecs: list, dtypes: list, options: dict
    ) -> tuple[Optional[dict], Optional[str]]:
        """-> (partition_values map, hive path 'k=v/k2=v2' or None)."""
        if not keys:
            return None, None
        vals = decode_binary_row(raw, codecs)
        pv = {
            k: self._partition_value_str(v, dt, options)
            for k, v, dt in zip(keys, vals, dtypes)
        }
        path = "/".join(f"{k}={pv[k]}" for k in keys)
        return pv, path

    def _decode_value_stats(
        self, file_meta: dict, schema: T.StructType
    ) -> Optional[dict]:
        """SimpleStats (valueStats + valueStatsCols) -> inventory
        column_stats map. PaimonStatsExtractor.java:53-130: stats columns
        default to every field when valueStatsCols is absent; arity must
        match the stats row."""
        stats = file_meta.get("_VALUE_STATS")
        if not stats:
            return None
        cols = file_meta.get("_VALUE_STATS_COLS")
        if cols is None:
            cols = [f.name for f in schema.fields]
        by_name = {f.name: f for f in schema.fields}
        codecs = []
        for c in cols:
            f = by_name.get(c)
            codec = None
            if f is not None:
                _, codec, _ = parse_paimon_type_from_spark(f.dataType)
            codecs.append(codec or PaimonFieldType("bigint"))

        mins = decode_binary_row(stats["_MIN_VALUES"], codecs)
        maxs = decode_binary_row(stats["_MAX_VALUES"], codecs)
        nulls = decode_long_array(stats["_NULL_COUNTS"])
        out = {}
        for i, c in enumerate(cols):
            f = by_name.get(c)
            if f is None:
                continue
            mn, mx = self._stat_value(mins[i], f), self._stat_value(maxs[i], f)
            out[c] = {
                "min_json": encode_stat(mn, f.dataType),
                "max_json": encode_stat(mx, f.dataType),
                "null_count": nulls[i] if i < len(nulls) else None,
            }
        return out or None

    @staticmethod
    def _stat_value(v: Any, field: T.StructField) -> Any:
        if v is None:
            return None
        if isinstance(field.dataType, (T.TimestampType, T.TimestampNTZType)):
            millis, nanos = v if isinstance(v, tuple) else (v, 0)
            return datetime.datetime(1970, 1, 1) + datetime.timedelta(
                milliseconds=millis, microseconds=nanos // 1000
            )
        if isinstance(field.dataType, T.DateType):
            return datetime.date(1970, 1, 1) + datetime.timedelta(days=int(v))
        return v

    # -- inventory ---------------------------------------------------------

    def _full_path(self, part_path: Optional[str], bucket: int, file_name: str) -> str:
        segs = [self.base_path]
        if part_path:
            segs.append(part_path)
        segs.append(f"bucket-{bucket}")
        segs.append(file_name)
        return "/".join(segs)

    # -- deletion-vector index (snapshot.indexManifest) ---------------------

    def _index_dv_map(self, snap: dict, sch: dict) -> dict[str, dict]:
        """abs data path -> {index_file, offset, length, cardinality,
        partition_values} from the snapshot's DELETION_VECTORS index
        entries (full state per snapshot — Paimon index manifests list the
        complete current index files)."""
        from incubator_xtable_spark.sources.paimon_dv import DELETION_VECTORS_INDEX

        name = snap.get("indexManifest")
        if not name:
            return {}
        options = sch.get("options") or {}
        keys, codecs, dtypes = self._partition_ctx(sch)
        out: dict[str, dict] = {}
        for e in self._read_manifest(name):
            if e.get("_KIND") != FILE_KIND_ADD or e.get("_INDEX_TYPE") != DELETION_VECTORS_INDEX:
                continue
            pv, part_path = self._decode_partition(
                e["_PARTITION"], keys, codecs, dtypes, options
            )
            for r in e.get("_DELETION_VECTORS_RANGES") or []:
                # external-layout tables (paimon_target) record the full
                # path; bucket-layout tables record the bare file name
                name = r["_FILE_NAME"]
                path = (
                    name
                    if "/" in name
                    else self._full_path(part_path, e["_BUCKET"], name)
                )
                out[path] = {
                    "index_file": e["_FILE_NAME"],
                    "offset": int(r["_OFFSET"]),
                    "length": int(r["_LENGTH"]),
                    "cardinality": r.get("_CARDINALITY"),
                    "partition_values": pv,
                }
        return out

    def _dv_cardinality(self, meta: dict) -> int:
        """Manifest cardinality when present; else one bounded driver-side
        decode of the DV (index files are metadata-sized)."""
        if meta.get("cardinality") is not None:
            return int(meta["cardinality"])
        from incubator_xtable_spark.sources.paimon_dv import INDEX_DIR, read_dv_from_index

        idx = os.path.join(self.base_path, INDEX_DIR, meta["index_file"])
        n = len(read_dv_from_index(idx, meta["offset"], meta["length"]))
        meta["cardinality"] = n
        return n

    def _dv_items(self, dv: dict[str, dict]) -> list[dict]:
        # deletion vectors key on PARQUET row indexes (the engine decodes
        # positions against _metadata.row_index / pyarrow row order); a DV
        # pointing at an ORC/AVRO data file must refuse loudly, never
        # silently mis-apply to a differently-ordered scan
        from incubator_xtable_spark.model.file_formats import require_parquet

        require_parquet(
            ((p, None) for p in sorted(dv)), reader="paimon deletion vectors"
        )
        return [
            {
                "data_path": p,
                "index_file": m["index_file"],
                "offset": m["offset"],
                "length": m["length"],
            }
            for p, m in sorted(dv.items())
        ]

    def _row_deletes_df(self, dv: dict[str, dict]) -> pa.Table:
        """COMPLETE current delete state (empty = no deletes, never None —
        targets clear stale DVs/delete files absent from a restatement).
        Positions files are materialized executor-side first."""
        from incubator_xtable_spark.model.core import ROW_DELETES_ARROW
        from incubator_xtable_spark.sources.paimon_dv import (
            materialize_dv_outputs,
            positions_path_for,
        )

        if not dv:
            return ROW_DELETES_ARROW.empty_table()
        materialize_dv_outputs(self.spark, self.base_path, self._dv_items(dv), "positions")
        rows = [
            (
                p,
                positions_path_for(p, m["index_file"], m["offset"], m["length"]),
                self._dv_cardinality(m),
                m["partition_values"],
            )
            for p, m in sorted(dv.items())
        ]
        return arrow_table(rows, ROW_DELETES_ARROW)

    def _shadow_overrides(self, dv: dict[str, dict]) -> dict[str, tuple]:
        """Materialize purged shadows for covered files and return the
        inventory overrides map path -> (new_path, new_size, row_delta)."""
        from incubator_xtable_spark.sources.paimon_dv import (
            materialize_dv_outputs,
            shadow_path_for,
        )

        if not dv:
            return {}
        materialize_dv_outputs(self.spark, self.base_path, self._dv_items(dv), "shadows")
        out = {}
        for p, m in dv.items():
            sp = shadow_path_for(p, m["index_file"], m["offset"], m["length"])
            out[p] = (sp, os.path.getsize(sp), self._dv_cardinality(m))
        return out

    def _to_inventory(
        self, entries: list[dict], sch: dict, overrides: Optional[dict[str, tuple]] = None
    ) -> pa.Table:
        if not entries:
            return FILE_INVENTORY_ARROW.empty_table()
        options = sch.get("options") or {}
        keys, codecs, dtypes = self._partition_ctx(sch)
        # stats rows decode against the schema the FILE was written with
        # (file _SCHEMA_ID) — after schema evolution an old file's stats
        # arity matches its write schema, not the snapshot schema
        schema_cache: dict[int, T.StructType] = {}

        def file_schema(schema_id: int) -> T.StructType:
            if schema_id not in schema_cache:
                try:
                    fields = self._schema(schema_id)["fields"]
                except FileNotFoundError:
                    fields = sch["fields"]
                schema_cache[schema_id] = paimon_fields_to_schema(fields)
            return schema_cache[schema_id]

        rows = []
        for e in entries:
            fm = e["_FILE"]
            pv, part_path = self._decode_partition(
                e["_PARTITION"], keys, codecs, dtypes, options
            )
            ext = fm.get("_EXTERNAL_PATH")
            path = ext or self._full_path(part_path, e["_BUCKET"], fm["_FILE_NAME"])
            # Paimon identifies the format by the file suffix; normalize to
            # the engine tag (PARQUET / APACHE_ORC / APACHE_AVRO)
            from incubator_xtable_spark.model.file_formats import from_extension

            fmt = from_extension(fm["_FILE_NAME"], default="PARQUET")
            size = int(fm["_FILE_SIZE"])
            count = int(fm["_ROW_COUNT"])
            stats = self._decode_value_stats(fm, file_schema(int(fm.get("_SCHEMA_ID") or 0)))
            if overrides and path in overrides:
                # purged-shadow substitution (expose-off DV conversion):
                # stats dropped — they describe the pre-purge content and
                # null counts could overstate the shadow's rows
                path, size, removed = overrides[path]
                count -= int(removed)
                stats = None
            rows.append(
                (
                    path,
                    fmt,
                    size,
                    count,
                    int(fm["_CREATION_TIME"]) if fm.get("_CREATION_TIME") else None,
                    pv,
                    stats,
                )
            )
        return arrow_table(rows, FILE_INVENTORY_ARROW)

    # -- snapshots / commits -----------------------------------------------

    def _view_entries(self, snap: dict, sch: dict) -> list[dict]:
        """Live entries of the read-optimized view at a snapshot (PK
        tables: top-level only)."""
        entries = self._merged_live_entries(snap)
        if sch.get("primaryKeys"):
            top = self._num_levels(sch.get("options") or {}) - 1
            entries = [e for e in entries if e["_FILE"]["_LEVEL"] == top]
        return entries

    def _entry_abs_path(self, e: dict, sch: dict) -> str:
        options = sch.get("options") or {}
        keys, codecs, dtypes = self._partition_ctx(sch)
        _, part_path = self._decode_partition(e["_PARTITION"], keys, codecs, dtypes, options)
        fm = e["_FILE"]
        return fm.get("_EXTERNAL_PATH") or self._full_path(
            part_path, e["_BUCKET"], fm["_FILE_NAME"]
        )

    def _view_dvs(self, snap: dict, sch: dict, view_paths: set[str]) -> dict[str, dict]:
        """DV index state restricted to files in the read-optimized view."""
        return {
            p: m for p, m in self._index_dv_map(snap, sch).items() if p in view_paths
        }

    def get_current_snapshot(self) -> InternalSnapshot:
        snap = self._latest()
        sch = self._schema(snap.get("schemaId", 0))
        table = self.get_table(snap["id"])
        entries = self._view_entries(snap, sch)
        view_paths = {self._entry_abs_path(e, sch) for e in entries}
        dv = self._view_dvs(snap, sch, view_paths)
        row_deletes = None
        overrides = None
        if dv and self.expose_row_deletes:
            row_deletes = self._row_deletes_df(dv)
        elif dv:
            overrides = self._shadow_overrides(dv)
        return InternalSnapshot(
            table=table,
            version=str(snap["id"]),
            files=self._to_inventory(entries, sch, overrides),
            source_identifier=str(snap.get("commitIdentifier")),
            row_deletes=row_deletes,
        )

    def get_table_change_for_commit(self, commit: str) -> TableChange:
        change = self._table_change_impl(commit)
        if self.emit_row_changes:
            change.row_changes = read_paimon_changelog(
                self.spark, self.base_path, int(commit)
            ).drop("_commit_snapshot_id")
        return change

    def _table_change_impl(self, commit: str) -> TableChange:
        snap = self._snapshot(int(commit))
        sch = self._schema(snap.get("schemaId", 0))
        table = self.get_table(snap["id"])
        entries = self._entries_for_lists([snap.get("deltaManifestList") or ""])
        if sch.get("primaryKeys"):
            top = self._num_levels(sch.get("options") or {}) - 1
            entries = [e for e in entries if e["_FILE"]["_LEVEL"] == top]
        added = [e for e in entries if e["_KIND"] == FILE_KIND_ADD]
        removed = [e for e in entries if e["_KIND"] == FILE_KIND_DELETE]

        live_entries = self._view_entries(snap, sch)
        live_paths = {self._entry_abs_path(e, sch) for e in live_entries}
        cur_dv = self._view_dvs(snap, sch, live_paths)
        prev_dv: dict[str, dict] = {}
        try:
            prev_snap = self._snapshot(int(commit) - 1)
            prev_dv = self._index_dv_map(prev_snap, sch)
        except FileNotFoundError:
            pass  # expired/first snapshot: treat prior DV state as empty

        if self.expose_row_deletes:
            # original paths; complete delete-state restatement rides the
            # row-delete channel whenever DV state exists or just cleared
            row_deletes = (
                self._row_deletes_df(cur_dv) if (cur_dv or prev_dv) else None
            )
            return TableChange(
                table=table,
                commit_id=commit,
                files_added=self._to_inventory(added, sch),
                files_removed=self._to_inventory(removed, sch),
                source_identifier=str(snap.get("commitIdentifier")),
                row_deletes=row_deletes,
            )

        # expose-off: covered files become purged shadows. A DV-only
        # change (no data-file churn) must still restate the file —
        # remove the previous effective path, add the new shadow.
        def dv_key(m: Optional[dict]):
            return (m["index_file"], m["offset"], m["length"]) if m else None

        added_paths = {self._entry_abs_path(e, sch) for e in added}
        removed_paths = {self._entry_abs_path(e, sch) for e in removed}
        changed = [
            p
            for p in sorted(live_paths - added_paths - removed_paths)
            if dv_key(cur_dv.get(p)) != dv_key(prev_dv.get(p))
        ]
        by_path = {self._entry_abs_path(e, sch): e for e in live_entries}
        extra_adds = [by_path[p] for p in changed if p in by_path]
        cur_overrides = self._shadow_overrides(
            {p: m for p, m in cur_dv.items() if p in added_paths | set(changed)}
        )
        # removes resolve through the PREVIOUS snapshot's effective paths
        prev_overrides = {}
        prev_cover = {
            p: m for p, m in prev_dv.items() if p in removed_paths | set(changed)
        }
        if prev_cover:
            from incubator_xtable_spark.sources.paimon_dv import shadow_path_for

            prev_overrides = {
                p: (shadow_path_for(p, m["index_file"], m["offset"], m["length"]), 0, 0)
                for p, m in prev_cover.items()
            }
        extra_removes = [by_path[p] for p in changed if p in by_path]
        return TableChange(
            table=table,
            commit_id=commit,
            files_added=self._to_inventory(added + extra_adds, sch, cur_overrides),
            files_removed=self._to_inventory(removed + extra_removes, sch, prev_overrides),
            source_identifier=str(snap.get("commitIdentifier")),
        )

    def get_commits_backlog(self, instants: InstantsForIncrementalSync) -> CommitsBacklog:
        """Snapshots strictly after the last-synced one, in commit order
        (PaimonConversionSource.java:139-175 uses timeMillis; snapshot
        ids are the same total order)."""
        last = (
            int(instants.last_sync_instant)
            if instants.last_sync_instant and instants.last_sync_instant.isdigit()
            else -1
        )
        ids = [i for i in self._snapshot_ids() if i > last]
        return CommitsBacklog(commits_to_process=[str(i) for i in ids])

    def is_incremental_sync_safe_from(self, instant: str) -> bool:
        """Three checks of PaimonConversionSource.java:177-221: no
        snapshots -> unsafe; future instant -> unsafe; snapshots expired
        past the instant -> unsafe; else safe."""
        earliest, latest = self.earliest_snapshot_id(), self.latest_snapshot_id()
        if earliest is None or latest is None:
            return False
        if not instant.isdigit():
            return False
        target = int(instant)
        if target > latest:
            return False
        if earliest > target:
            return False
        return True

    def get_commit_identifier(self, commit: str) -> str:
        return str(self._snapshot(int(commit)).get("commitIdentifier"))


def parse_paimon_type_from_spark(dtype: T.DataType) -> tuple[T.DataType, Optional[PaimonFieldType], bool]:
    """Spark type -> codec type (inverse helper for stats decode)."""
    if isinstance(dtype, T.StringType):
        return dtype, PaimonFieldType("string"), True
    if isinstance(dtype, T.BooleanType):
        return dtype, PaimonFieldType("boolean"), True
    if isinstance(dtype, T.ByteType):
        return dtype, PaimonFieldType("tinyint"), True
    if isinstance(dtype, T.ShortType):
        return dtype, PaimonFieldType("smallint"), True
    if isinstance(dtype, T.IntegerType):
        return dtype, PaimonFieldType("int"), True
    if isinstance(dtype, T.LongType):
        return dtype, PaimonFieldType("bigint"), True
    if isinstance(dtype, T.FloatType):
        return dtype, PaimonFieldType("float"), True
    if isinstance(dtype, T.DoubleType):
        return dtype, PaimonFieldType("double"), True
    if isinstance(dtype, T.BinaryType):
        return dtype, PaimonFieldType("bytes"), True
    if isinstance(dtype, T.DateType):
        return dtype, PaimonFieldType("date"), True
    if isinstance(dtype, T.DecimalType):
        return dtype, PaimonFieldType("decimal", dtype.precision, dtype.scale), True
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return dtype, PaimonFieldType("timestamp", 6), True
    return dtype, None, True


def _prune_paimon_entries(src, entries: list[dict], sch: dict, prune: dict) -> list[dict]:
    """Data skipping over view entries via each file's own SimpleStats
    (_VALUE_STATS, decoded against the file's write schema): keep a file
    unless its min/max provably excludes a requested inclusive range.
    Files without stats for a predicate column always keep."""
    from incubator_xtable_spark.model.stat_codec import decode_stat, stat_range_keeps

    schema_cache: dict[int, T.StructType] = {}

    def file_schema(schema_id: int) -> T.StructType:
        if schema_id not in schema_cache:
            try:
                fields = src._schema(schema_id)["fields"]
            except FileNotFoundError:
                fields = sch["fields"]
            schema_cache[schema_id] = paimon_fields_to_schema(fields)
        return schema_cache[schema_id]

    kept = []
    for e in entries:
        fm = e["_FILE"]
        fschema = file_schema(int(fm.get("_SCHEMA_ID") or 0))
        dtypes = {f.name: f.dataType for f in fschema.fields}
        stats = src._decode_value_stats(fm, fschema) or {}
        keep = True
        for c, (lo, hi) in prune.items():
            st = stats.get(c)
            if not st or c not in dtypes:
                continue
            mn = decode_stat(st.get("min_json"), dtypes[c])
            mx = decode_stat(st.get("max_json"), dtypes[c])
            if not stat_range_keeps(mn, mx, lo, hi):
                keep = False
                break
        if keep:
            kept.append(e)
    return kept


def _tag_dir(base_path: str) -> str:
    return os.path.join(base_path.rstrip("/"), "tag")


def list_paimon_tags(base_path: str) -> dict[str, dict]:
    """{tag name: snapshot dict} from the spec tag layout (`tag/tag-<name>`,
    each file a full snapshot JSON copy)."""
    d = _tag_dir(base_path)
    if not os.path.isdir(d):
        return {}
    out: dict[str, dict] = {}
    for n in sorted(os.listdir(d)):
        if not n.startswith("tag-"):
            continue
        with open(os.path.join(d, n), encoding="utf-8") as fh:
            out[n[len("tag-") :]] = json.load(fh)
    return out


def create_paimon_tag(
    base_path: str, name: str, snapshot_id: Optional[int] = None
) -> int:
    """Pin a snapshot as a tag (spec layout: the tag file IS a copy of
    the snapshot JSON, so the pinned state outlives snapshot expiration —
    expiry deletes snapshot/ pointers, never manifests or data files).
    Defaults to the latest snapshot; refuses overwriting an existing tag
    (tags are immutable pins). Returns the pinned snapshot id."""
    src_dir = os.path.join(base_path.rstrip("/"), "snapshot")
    if snapshot_id is None:
        hint = os.path.join(src_dir, "LATEST")
        if os.path.exists(hint):
            with open(hint, encoding="utf-8") as fh:
                snapshot_id = int(fh.read().strip())
        else:
            ids = sorted(
                int(n[len("snapshot-") :])
                for n in (os.listdir(src_dir) if os.path.isdir(src_dir) else [])
                if n.startswith("snapshot-") and n[len("snapshot-") :].isdigit()
            )
            if not ids:
                raise ValueError(f"no snapshots to tag in {base_path}")
            snapshot_id = ids[-1]
    sp = os.path.join(src_dir, f"snapshot-{snapshot_id}")
    if not os.path.exists(sp):
        raise ValueError(f"snapshot {snapshot_id} does not exist (expired?)")
    d = _tag_dir(base_path)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, f"tag-{name}")
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(sp, encoding="utf-8") as fh:
        payload = fh.read()
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(payload)
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise ValueError(f"tag {name!r} already exists (tags are immutable)") from exc
    finally:
        os.unlink(tmp)
    return snapshot_id


def remove_paimon_tag(base_path: str, name: str) -> None:
    p = os.path.join(_tag_dir(base_path), f"tag-{name}")
    if not os.path.exists(p):
        raise ValueError(f"no tag {name!r} in {base_path}")
    os.unlink(p)


def read_paimon_as_df(
    spark: SparkSession,
    base_path: str,
    snapshot_id: Optional[int] = None,
    prune: Optional[dict] = None,
    tag: Optional[str] = None,
) -> DataFrame:
    """Snapshot read (time travel via snapshot_id). Primary-key tables
    read top-level (fully compacted) files only — the same read-optimized
    view the conversion source exposes. Partition columns are not stored
    in Paimon data files; they are attached from the manifest partition
    values via a broadcast map join (distributed scan, no driver rows).

    ``prune`` ({column: (lower, upper)}, inclusive, None = unbounded):
    plan-time data skipping from the manifests' SimpleStats — same safe
    keep rule as the Delta/Iceberg/Hudi readers (drop only on provable
    exclusion; apply the real row filter on the result; safe here even
    for PK tables because this view reads stored top-level files with
    no merge overlay, and DVs only remove rows)."""
    if tag is not None:
        if snapshot_id is not None:
            raise ValueError(
                "read_paimon_as_df: pass either snapshot_id or tag, not both"
            )
        tags = list_paimon_tags(base_path)
        if tag not in tags:
            raise ValueError(f"no tag {tag!r} in {base_path} (tags: {sorted(tags)})")
        snapshot_id = tags[tag]["id"]
    src = PaimonConversionSource(spark, base_path)
    sid = snapshot_id if snapshot_id is not None else src.latest_snapshot_id()
    if sid is None:
        raise ValueError(f"No snapshots found for table {base_path}")
    snap = src._snapshot(sid)
    sch = src._schema(snap.get("schemaId", 0))
    table = src.get_table(sid)
    entries = src._view_entries(snap, sch)
    if prune:
        entries = _prune_paimon_entries(src, entries, sch, prune)
    paths = [src._entry_abs_path(e, sch) for e in entries]
    if not paths:
        return spark.createDataFrame([], table.read_schema)
    # Paimon identifies a data file's format purely by suffix
    # (`file.format` option; mixed formats across commits are legal after
    # a format migration) — split into parquet / ORC / AVRO scan branches
    # like the r8 Delta/Iceberg readers; unknown suffixes refuse loudly.
    from incubator_xtable_spark.model.file_formats import from_extension, split_readable

    pq_paths, orc_paths, avro_paths = split_readable(
        ((p, from_extension(p)) for p in paths), reader="read_paimon_as_df"
    )
    dv = src._view_dvs(snap, sch, set(paths))
    part_keys = sch.get("partitionKeys") or []
    df = None
    if pq_paths:
        # Native Paimon data files store the full row INCLUDING partition
        # columns (the hive-style dirs are layout only). EXTERNAL files
        # from a conversion (paimon_target references them via
        # _EXTERNAL_PATH) may lack them — probe one footer and re-attach
        # manifest partition values when missing (same posture as the
        # hudi read path). Only the parquet branch needs this: external
        # files are parquet by construction, native ORC/AVRO files carry
        # the full row.
        import pyarrow.parquet as _pq

        footer_cols = set(_pq.read_schema(pq_paths[0]).names)
        missing_parts = [k for k in part_keys if k not in footer_cols]
        scan_fields = [f for f in table.read_schema.fields if f.name not in missing_parts]
        df = spark.read.schema(T.StructType(scan_fields)).parquet(*pq_paths)
        if missing_parts:
            keys, codecs, dtypes = src._partition_ctx(sch)
            options = sch.get("options") or {}
            pv_rows = []
            for e, p in zip(entries, paths):
                pv, _ = src._decode_partition(e["_PARTITION"], keys, codecs, dtypes, options)
                pv_rows.append((p, pv or {}))
            pv_df = spark.createDataFrame(pv_rows, "abs_path STRING, pv MAP<STRING,STRING>")
            df = df.withColumn(
                "abs_path", F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", "")
            )
            df = with_file_paths(df, "abs_path").join(F.broadcast(pv_df), "abs_path", "left")
            for k in missing_parts:
                df = df.withColumn(k, F.col("pv").getItem(k).cast(table.read_schema[k].dataType))
            df = df.drop("abs_path", "pv")
        if dv:
            # deletion vectors apply row-level: decode positions
            # executor-side and anti-join on (_metadata.file_path,
            # row_index) — same shape as the Delta DV read path,
            # distributes with the scan. _dv_items refuses DVs that point
            # at non-parquet files (positions key on parquet row indexes).
            from incubator_xtable_spark.sources.paimon_dv import dv_positions_df

            positions = dv_positions_df(spark, base_path, src._dv_items(dv))
            df = df.withColumn(
                "_fp", F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", "")
            ).withColumn("_ri", F.col("_metadata.row_index"))
            df = with_file_paths(df, "_fp").join(
                positions,
                (F.col("_fp") == positions.file_path) & (F.col("_ri") == positions.pos),
                "left_anti",
            )
        df = df.select(*[column(f.name) for f in table.read_schema.fields])
    elif dv:
        # no parquet branch but DVs present: still surface the refusal
        src._dv_items(dv)
    if orc_paths:
        orc_df = spark.read.schema(table.read_schema).orc(list(orc_paths)).select(
            *[column(f.name) for f in table.read_schema.fields]
        )
        df = orc_df if df is None else df.unionByName(orc_df)
    if avro_paths:
        from incubator_xtable_spark.sources.avro_scan import read_avro_rows

        avro_df = read_avro_rows(spark, avro_paths, list(table.read_schema.fields))
        df = avro_df if df is None else df.unionByName(avro_df)
    return df


def _scan_paimon_files(
    spark: SparkSession, paths: list[str], read_schema: T.StructType, reader: str
) -> DataFrame:
    """Schema-driven scan of Paimon data/changelog files, format split by
    suffix: parquet + ORC through Spark's native scans, AVRO through the
    engine's distributed OCF decoder (one task per file). Branches union
    by name so a table that migrated `file.format` mid-history still reads
    every row."""
    from incubator_xtable_spark.model.file_formats import from_extension, split_readable

    pq_paths, orc_paths, avro_paths = split_readable(
        ((p, from_extension(p)) for p in paths), reader=reader
    )
    cols = [f.name for f in read_schema.fields]
    df = None
    if pq_paths:
        df = spark.read.schema(read_schema).parquet(*pq_paths)
    if orc_paths:
        orc_df = spark.read.schema(read_schema).orc(list(orc_paths))
        df = orc_df if df is None else df.select(*cols).unionByName(orc_df.select(*cols))
    if avro_paths:
        from incubator_xtable_spark.sources.avro_scan import read_avro_rows

        avro_df = read_avro_rows(spark, avro_paths, list(read_schema.fields))
        df = avro_df if df is None else df.select(*cols).unionByName(avro_df)
    return df


# RowKind ordinal -> Delta-CDF-style change type string
_CHANGE_TYPES = {0: "insert", 1: "update_preimage", 2: "update_postimage", 3: "delete"}


def read_paimon_changelog(
    spark: SparkSession, base_path: str, snapshot_id: int
) -> DataFrame:
    """Row-level changes of ONE commit as a CDC-shaped DataFrame: the row
    columns plus `_change_type` (insert / update_preimage /
    update_postimage / delete) and `_commit_snapshot_id`.

    Source of truth, in order:
    1. the snapshot's changelogManifestList (changelog-producer=
       input/lookup/full-compaction) — changelog data files store the
       RowKind as a leading `_VALUE_KIND` tinyint column;
    2. for append-only tables' APPEND commits with no changelog
       manifests, the delta data files themselves (every row an insert —
       Paimon's own fallback for changelog-producer=none);
    otherwise raises: PK deltas without a changelog producer are
    compaction artifacts, not row changes.

    Scale: one distributed parquet scan over the commit's changelog
    files; no driver rows. Feeds Structured Streaming / CDC pipelines a
    per-commit micro-batch (pair with get_commits_backlog for the
    commit cursor).
    """
    src = PaimonConversionSource(spark, base_path)
    snap = src._snapshot(snapshot_id)
    sch = src._schema(snap.get("schemaId", 0))
    table = src.get_table(snapshot_id)
    data_cols = [f.name for f in table.read_schema.fields]

    cl_list = snap.get("changelogManifestList")
    cl_entries = [
        e
        for e in (src._entries_for_lists([cl_list]) if cl_list else [])
        if e["_KIND"] == FILE_KIND_ADD
    ]
    if cl_entries:
        paths = [src._entry_abs_path(e, sch) for e in cl_entries]
        read_schema = T.StructType(
            [T.StructField("_VALUE_KIND", T.ByteType(), True)]
            + list(table.read_schema.fields)
        )
        df = _scan_paimon_files(spark, paths, read_schema, "read_paimon_changelog")
        mapping = F.create_map(
            *[x for k, v in _CHANGE_TYPES.items() for x in (F.lit(k), F.lit(v))]
        )
        return df.select(
            *data_cols,
            mapping[F.col("_VALUE_KIND").cast("int")].alias("_change_type"),
            F.lit(int(snapshot_id)).alias("_commit_snapshot_id"),
        )

    if snap.get("commitKind") == "COMPACT":
        # compaction rewrites the layout, never the logical rows — the
        # changelog of a COMPACT snapshot is empty by definition
        return spark.createDataFrame(
            [],
            T.StructType(
                list(table.read_schema.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_snapshot_id", T.LongType()),
                ]
            ),
        )
    if sch.get("primaryKeys") or snap.get("commitKind") != "APPEND":
        raise ValueError(
            f"snapshot {snapshot_id} has no changelog manifests and its "
            "delta files are not row changes (PK table or non-APPEND "
            "commit); enable a changelog producer on the source table"
        )
    entries = [
        e
        for e in src._entries_for_lists([snap.get("deltaManifestList") or ""])
        if e["_KIND"] == FILE_KIND_ADD
    ]
    if not entries:
        return spark.createDataFrame(
            [],
            T.StructType(
                list(table.read_schema.fields)
                + [
                    T.StructField("_change_type", T.StringType(), True),
                    T.StructField("_commit_snapshot_id", T.LongType(), False),
                ]
            ),
        )
    paths = [src._entry_abs_path(e, sch) for e in entries]
    df = _scan_paimon_files(spark, paths, table.read_schema, "read_paimon_changelog")
    return df.select(
        *data_cols,
        F.lit("insert").alias("_change_type"),
        F.lit(int(snapshot_id)).alias("_commit_snapshot_id"),
    )
