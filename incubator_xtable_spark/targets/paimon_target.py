"""Paimon conversion TARGET: writes a Paimon FileStore metadata tree
(schema-N JSON, snapshot-N JSON + hints, manifest-list/manifest avro
with BinaryRow partition + SimpleStats blobs) over EXTERNAL data files.

BEYOND the reference: apache/incubator-xtable supports Paimon as a
SOURCE only (paimon/PaimonConversionSource.java); this target completes
the matrix so any supported source converts INTO Paimon too. Written
from the public Paimon spec, like the source: no Paimon jars exist in
this environment.

Key design points:
- data files are referenced via DataFileMeta._EXTERNAL_PATH (the spec
  field for files outside the bucket layout), so conversion stays
  metadata-only — no data copies into <partition>/bucket-N/;
- each sync writes one delta manifest (+list) and re-lists the prior
  snapshot's manifests as the new base list — exactly the accumulation
  a Paimon commit performs; snapshot JSON is committed atomically
  (hard-link put-if-absent, same posture as the Delta/Hudi targets);
- the XTABLE sync bookmark rides in the schema's options map (Paimon
  materializes option changes as a new schema-N file — the same
  mechanism real Paimon uses for ALTER TABLE SET options), so
  get_table_metadata reads it back through the normal schema chain;
- identity (VALUE) partitions only — Paimon partitioning IS identity;
  non-identity specs raise a clear error instead of mis-landing;
- append-only (no primaryKeys): converted tables have no merge
  semantics to express, every file lands at level 0. A PK-table target
  is DELIBERATELY out of scope: Paimon PK data files physically store
  the KeyValue row layout (_KEY_* copies of the key columns,
  _SEQUENCE_NUMBER, _VALUE_KIND prefixed to the value columns), so no
  metadata-only registration can make external parquet readable as a
  PK table — it would require rewriting every data file, defeating the
  conversion model. Sources that HAVE merge semantics (Delta DVs,
  Iceberg deletes, Hudi MOR) convert their RESOLVED row state here
  instead (shadows / row-delete channel), which is lossless for
  readers.

Scale: manifest/metadata writes are driver-side and bounded by
files-touched-per-commit; a snapshot is diffed against the merged live
entries with ``model.files_diff`` over the controller's driver-resident
rows (no Spark job); data bytes never move.
"""

from __future__ import annotations

import datetime
import json
import os
import uuid
from typing import Any, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from incubator_xtable_spark.model.avro_codec import write_ocf
from incubator_xtable_spark.model.core import InternalTable, TableChange, table_rows
from incubator_xtable_spark.model.files_diff import files_diff
from incubator_xtable_spark.model.paimon_binary import (
    PaimonFieldType,
    encode_binary_row,
    encode_long_array,
)
from incubator_xtable_spark.model.stat_codec import decode_stat
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata

XTABLE_OPTION_KEY = "xtable.metadata"
EPOCH_MS_BASE = 1_700_000_000_000


def spark_type_to_paimon_str(dtype: T.DataType, nullable: bool) -> str:
    """Spark type -> Paimon SQL type string (round-trips through
    sources.paimon_source.parse_paimon_type)."""
    if isinstance(dtype, T.StringType):
        s = "STRING"
    elif isinstance(dtype, T.BooleanType):
        s = "BOOLEAN"
    elif isinstance(dtype, T.ByteType):
        s = "TINYINT"
    elif isinstance(dtype, T.ShortType):
        s = "SMALLINT"
    elif isinstance(dtype, T.IntegerType):
        s = "INT"
    elif isinstance(dtype, T.LongType):
        s = "BIGINT"
    elif isinstance(dtype, T.FloatType):
        s = "FLOAT"
    elif isinstance(dtype, T.DoubleType):
        s = "DOUBLE"
    elif isinstance(dtype, T.BinaryType):
        s = "BYTES"
    elif isinstance(dtype, T.DateType):
        s = "DATE"
    elif isinstance(dtype, T.DecimalType):
        s = f"DECIMAL({dtype.precision}, {dtype.scale})"
    elif isinstance(dtype, T.TimestampType):
        s = "TIMESTAMP(6) WITH LOCAL TIME ZONE"
    elif isinstance(dtype, T.TimestampNTZType):
        s = "TIMESTAMP(6)"
    elif isinstance(dtype, T.StructType):
        inner = ", ".join(
            f"`{f.name}` {spark_type_to_paimon_str(f.dataType, f.nullable)}"
            for f in dtype.fields
        )
        s = f"ROW<{inner}>"
    elif isinstance(dtype, T.ArrayType):
        s = f"ARRAY<{spark_type_to_paimon_str(dtype.elementType, dtype.containsNull)}>"
    elif isinstance(dtype, T.MapType):
        s = (
            f"MAP<{spark_type_to_paimon_str(dtype.keyType, False)}, "
            f"{spark_type_to_paimon_str(dtype.valueType, dtype.valueContainsNull)}>"
        )
    else:
        raise ValueError(f"no Paimon mapping for Spark type {dtype}")
    return s if nullable else f"{s} NOT NULL"


def _partition_typed_value(raw: Optional[str], dtype: T.DataType) -> Any:
    """Inventory partition string -> typed value for the BinaryRow blob
    (inverse of sources.paimon_source.format_partition_value)."""
    if raw is None:
        return None
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dtype, T.BooleanType):
        return raw.lower() == "true"
    if isinstance(dtype, T.DateType):
        return (datetime.date.fromisoformat(raw) - datetime.date(1970, 1, 1)).days
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # the wall clock the path names, as format_partition_value renders it
        return _timestamp_value(datetime.datetime.fromisoformat(raw))
    return raw  # strings (and anything hive-path-encoded as a string)


def _timestamp_value(v: datetime.datetime) -> tuple[int, int]:
    """-> the codec's (epoch millis, nano of milli) for ``v``."""
    delta = v - datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
    millis = delta.days * 86_400_000 + delta.seconds * 1000 + delta.microseconds // 1000
    return (millis, (delta.microseconds % 1000) * 1000)


def _stat_typed_value(v: Any, codec: PaimonFieldType) -> Any:
    """decode_stat output -> codec-native value for SimpleStats blobs."""
    if v is None:
        return None
    if codec.kind == "date" and isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if codec.kind == "timestamp" and isinstance(v, datetime.datetime):
        return _timestamp_value(v)
    return v


class PaimonConversionTarget:
    """ConversionTarget writing the Paimon FileStore layout."""

    # row-delete channel entries become deletion-vectors index files
    # (sources/paimon_dv.py V1 codec) listed in the snapshot's
    # indexManifest — deletes round-trip metadata-only through all four
    # formats (Delta DVs <-> Iceberg position deletes <-> Paimon DVs)
    supports_row_deletes = True

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        table_name: Optional[str] = None,
        primary_keys: Optional[list] = None,
    ) -> None:
        if primary_keys:
            raise ValueError(
                "Paimon PK-table targets are not supported: PK data files "
                "physically store the KeyValue row layout (_KEY_* columns, "
                "_SEQUENCE_NUMBER, _VALUE_KIND), so metadata-only "
                "registration of external parquet cannot produce a readable "
                "PK table — it would require rewriting every data file. "
                "Convert the source's RESOLVED row state as an append-only "
                "table instead (merge semantics arrive via the row-delete / "
                "CDC channels); see README 'Paimon conversion matrix'."
            )
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.table_name = table_name
        self._reset()

    def _reset(self) -> None:
        self._table: Optional[InternalTable] = None
        self._schema: Optional[T.StructType] = None
        self._partition_keys: list[str] = []
        self._metadata_json: Optional[str] = None
        # driver rows: inventory Rows to add, (path, partition blob) pairs
        # to remove
        self._adds: Optional[list[dict]] = None
        self._removes: list[tuple[str, bytes]] = []
        self._row_deletes: Optional[list[dict]] = None
        self._row_changes: Optional[DataFrame] = None
        # commitKind override: maintenance actions set "COMPACT"
        # (layout-only rewrite — changelog consumers see no row changes)
        self._commit_kind_override: Optional[str] = None

    # -- dirs / current state ----------------------------------------------

    def _dir(self, name: str) -> str:
        d = os.path.join(self.base_path, name)
        os.makedirs(d, exist_ok=True)
        return d

    def _latest_schema(self) -> Optional[tuple[int, dict]]:
        d = os.path.join(self.base_path, "schema")
        if not os.path.isdir(d):
            return None
        ids = [
            int(n[len("schema-") :])
            for n in os.listdir(d)
            if n.startswith("schema-") and n[len("schema-") :].isdigit()
        ]
        if not ids:
            return None
        sid = max(ids)
        with open(os.path.join(d, f"schema-{sid}")) as fh:
            return sid, json.load(fh)

    def _latest_snapshot(self) -> Optional[dict]:
        d = os.path.join(self.base_path, "snapshot")
        p = os.path.join(d, "LATEST")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            sid = int(fh.read().strip())
        with open(os.path.join(d, f"snapshot-{sid}")) as fh:
            return json.load(fh)

    # -- sync steps --------------------------------------------------------

    def begin_sync(self, table: InternalTable) -> None:
        self._reset()
        self._table = table
        self._schema = table.read_schema
        for pf in table.partition_fields:
            transform = getattr(pf, "transform", None)
            if transform is not None and transform.value != "VALUE":
                raise ValueError(
                    f"Paimon partitioning is identity-only; cannot express "
                    f"{transform.value}({pf.source_field})"
                )
        self._partition_keys = [pf.output_name for pf in table.partition_fields]

    def sync_schema(self, schema: T.StructType) -> None:
        self._schema = schema

    def sync_partition_spec(self, partition_fields: list) -> None:
        keys = []
        for pf in partition_fields:
            if isinstance(pf, str):
                keys.append(pf)
                continue
            if pf.transform.value != "VALUE":
                raise ValueError(
                    f"Paimon partitioning is identity-only; cannot express "
                    f"{pf.transform.value}({pf.source_field})"
                )
            keys.append(pf.output_name)
        self._partition_keys = keys

    def sync_metadata(self, metadata: TableSyncMetadata) -> None:
        self._metadata_json = metadata.to_json()

    def sync_files_for_snapshot(self, files: Any) -> None:
        """Snapshot-as-diff against the current live external paths; a
        remove keeps the live entry's partition blob."""
        self._adds, self._removes = files_diff(
            table_rows(files),
            self._live_paths(),
            self.base_path,
            lambda r: r["physical_path"],
            lambda live: live[0],
        )

    def sync_files_for_diff(self, change: TableChange) -> None:
        self._adds = table_rows(change.files_added)
        self._removes = [
            (r["physical_path"], self._partition_blob(r["partition_values"]))
            for r in table_rows(change.files_removed)
        ]

    def sync_row_deletes(self, deletes: Any) -> None:
        """Row-delete channel (ROW_DELETES_SCHEMA): the COMPLETE delete
        state — each covered data file gets a deletion vector in a V1
        index file; the snapshot's indexManifest restates the full set
        (an empty restatement clears all DVs)."""
        self._row_deletes = table_rows(deletes)

    def sync_row_changes(self, changes: DataFrame) -> None:
        """CDC channel: the commit's row-level changes persist as REAL
        Paimon changelog files — _VALUE_KIND-prefixed parquet registered
        on the snapshot's changelogManifestList, exactly what a
        changelog-producer writer emits. read_paimon_changelog then
        serves them tier-1 (the append-fallback only covers APPEND
        commits, so OVERWRITE commits from delete-carrying sources NEED
        the explicit changelog)."""
        self._row_changes = changes

    def _write_changelog(self, schema_id: int) -> Optional[tuple[str, int]]:
        """CDC rows -> changelog data parquet(s) (_VALUE_KIND tinyint +
        row columns, the changelog-producer file shape) + their manifest
        + list. Returns (changelogManifestList path, total rows) or None
        for an empty change set. Distributed write, bounded file count;
        entries register via _EXTERNAL_PATH like the data files."""
        import glob as _glob
        import shutil as _shutil

        from pyspark.sql import functions as F

        df = self._row_changes
        if df is None or df.isEmpty():
            return None
        # inverse of sources/change_plan.CHANGE_TYPES (RowKind bytes)
        kind_map = F.create_map(
            F.lit("insert"), F.lit(0),
            F.lit("update_preimage"), F.lit(1),
            F.lit("update_postimage"), F.lit(2),
            F.lit("delete"), F.lit(3),
        )
        out = df.withColumn(
            "_VALUE_KIND", kind_map[F.col("_change_type")].cast("tinyint")
        ).drop("_change_type")
        # partitioned tables: one changelog file group per touched
        # partition so entries carry REAL partition blobs (partition
        # predicates on the changelog scan must prune correctly); the
        # row columns stay in the files (changelog files keep full rows,
        # unlike hive-partitioned data layouts). The per-partition loop
        # is bounded by partitions-touched-per-commit.
        part_cols = [k for k in self._partition_keys if k in out.columns]
        tmp = os.path.join(self.base_path, f".cl-tmp-{uuid.uuid4().hex}")
        # (typed values for row filtering, stringified for the blob) —
        # matching via cast-to-string would disagree with Python str()
        # for booleans/floats and silently drop rows
        pv_list: list[Optional[dict]] = [None]
        if part_cols:
            pv_list = [
                {k: r[k] for k in part_cols}
                for r in out.select(*part_cols).distinct().collect()
            ]
        import pyarrow.parquet as _pq

        entries: list[dict] = []
        total = 0
        empty = encode_binary_row([], [])
        parts_written: list[tuple[str, Optional[dict]]] = []
        for i, pv in enumerate(pv_list):
            sel = out
            if pv is not None:
                for k, v in pv.items():
                    sel = sel.filter(F.col(k).eqNullSafe(F.lit(v)))
            sub_tmp = f"{tmp}-{i}"
            sel.coalesce(4).write.parquet(sub_tmp)
            for part in sorted(_glob.glob(os.path.join(sub_tmp, "part-*.parquet"))):
                parts_written.append((part, pv))
        for part, pv in parts_written:
            pv_str = (
                None
                if pv is None
                else {k: (None if v is None else str(v)) for k, v in pv.items()}
            )
            n = _pq.read_metadata(part).num_rows
            if n == 0:
                os.remove(part)
                continue
            name = f"changelog-{uuid.uuid4().hex}.parquet"
            dst = os.path.join(self.base_path, name)
            os.replace(part, dst)
            total += n
            entries.append(
                {
                    "_VERSION": 2,
                    "_KIND": 0,
                    "_PARTITION": self._partition_blob(pv_str),
                    "_BUCKET": 0,
                    "_TOTAL_BUCKETS": 1,
                    "_FILE": {
                        "_FILE_NAME": name,
                        "_FILE_SIZE": os.path.getsize(dst),
                        "_ROW_COUNT": n,
                        "_MIN_KEY": empty,
                        "_MAX_KEY": empty,
                        "_KEY_STATS": {
                            "_MIN_VALUES": empty,
                            "_MAX_VALUES": empty,
                            "_NULL_COUNTS": encode_long_array([]),
                        },
                        "_VALUE_STATS": {
                            "_MIN_VALUES": empty,
                            "_MAX_VALUES": empty,
                            "_NULL_COUNTS": encode_long_array([]),
                        },
                        "_MIN_SEQUENCE_NUMBER": 0,
                        "_MAX_SEQUENCE_NUMBER": 0,
                        "_SCHEMA_ID": schema_id,
                        "_LEVEL": 0,
                        "_EXTRA_FILES": [],
                        "_CREATION_TIME": EPOCH_MS_BASE,
                        "_DELETE_ROW_COUNT": None,
                        "_EMBEDDED_FILE_INDEX": None,
                        "_FILE_SOURCE": 0,
                        # empty stats advertise no columns, not all columns
                        "_VALUE_STATS_COLS": [],
                        "_EXTERNAL_PATH": dst,
                    },
                }
            )
        for i in range(len(pv_list)):
            _shutil.rmtree(f"{tmp}-{i}", ignore_errors=True)
        if not entries:
            return None
        meta = self._write_manifest(entries, schema_id)
        return self._write_manifest_list([meta], 2), total

    def _write_dv_index(self, schema_id: int) -> Optional[str]:
        """row_deletes rows -> DV index file(s) per partition group + one
        full-state index manifest. Returns the manifest name or None."""
        from incubator_xtable_spark.sources.paimon_dv import (
            DELETION_VECTORS_INDEX,
            write_dv_index_file,
        )
        from incubator_xtable_spark.sources.paimon_source import (
            INDEX_MANIFEST_AVRO_SCHEMA,
        )

        rows = self._row_deletes
        if not rows:
            return None
        import pyarrow.parquet as pq

        groups: dict[tuple, tuple[Optional[dict], dict]] = {}
        for r in rows:
            pv = dict(r["partition_values"]) if r["partition_values"] else None
            key = tuple(sorted((pv or {}).items()))
            _, dvs = groups.setdefault(key, (pv, {}))
            # numpy end-to-end: no python-int materialization of what can
            # be a multi-million-position delete set
            positions = (
                pq.read_table(r["positions_path"], columns=["pos"])["pos"]
                .to_numpy(zero_copy_only=False)
            )
            # external layout: record the FULL data path as the DV's file
            # name so readers resolve it without the bucket convention
            dvs[r["data_file_path"]] = positions
        entries = []
        for _key, (pv, dvs) in sorted(groups.items()):
            name, size, metas = write_dv_index_file(self.base_path, dvs)
            entries.append(
                {
                    "_VERSION": 1,
                    "_KIND": 0,
                    "_PARTITION": self._partition_blob(pv),
                    "_BUCKET": 0,
                    "_INDEX_TYPE": DELETION_VECTORS_INDEX,
                    "_FILE_NAME": name,
                    "_FILE_SIZE": size,
                    "_ROW_COUNT": sum(m["cardinality"] for m in metas.values()),
                    "_DELETION_VECTORS_RANGES": [
                        {
                            "_FILE_NAME": f,
                            "_OFFSET": m["offset"],
                            "_LENGTH": m["length"],
                            "_CARDINALITY": m["cardinality"],
                        }
                        for f, m in metas.items()
                    ],
                }
            )
        manifest_name = f"index-manifest-{uuid.uuid4().hex}-0"
        write_ocf(
            os.path.join(self._dir("manifest"), manifest_name),
            INDEX_MANIFEST_AVRO_SCHEMA,
            entries,
        )
        return manifest_name

    def _live_paths(self) -> list[tuple[str, bytes]]:
        """(external path, partition blob) of every live data file."""
        snap = self._latest_snapshot()
        if snap is None:
            return []
        from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

        src = PaimonConversionSource(self.spark, self.base_path)
        sch = src._schema(snap.get("schemaId", 0))
        return [(src._entry_abs_path(e, sch), e["_PARTITION"]) for e in src._merged_live_entries(snap)]

    # -- manifest building --------------------------------------------------

    def _partition_ctx(self) -> tuple[list[PaimonFieldType], list[T.DataType]]:
        from incubator_xtable_spark.sources.paimon_source import (
            parse_paimon_type_from_spark,
        )

        codecs, dtypes = [], []
        for k in self._partition_keys:
            f = self._schema[k]
            _, codec, _ = parse_paimon_type_from_spark(f.dataType)
            codecs.append(codec or PaimonFieldType("string"))
            dtypes.append(f.dataType)
        return codecs, dtypes

    def _partition_blob(self, pv: Optional[dict]) -> bytes:
        codecs, dtypes = self._partition_ctx()
        values = [
            _partition_typed_value((pv or {}).get(k), dt)
            for k, dt in zip(self._partition_keys, dtypes)
        ]
        return encode_binary_row(codecs, values)

    def _value_stats(self, column_stats: Optional[dict]) -> tuple[dict, Optional[list]]:
        """Inventory column_stats -> SimpleStats blob + valueStatsCols.
        Columns without stats are omitted via an explicit cols list."""
        from incubator_xtable_spark.sources.paimon_source import (
            parse_paimon_type_from_spark,
        )

        empty = encode_binary_row([], [])
        if not column_stats:
            return (
                {"_MIN_VALUES": empty, "_MAX_VALUES": empty, "_NULL_COUNTS": encode_long_array([])},
                [],
            )
        cols, codecs, mins, maxs, nulls = [], [], [], [], []
        for f in self._schema.fields:
            st = column_stats.get(f.name)
            if st is None:
                continue
            _, codec, _ = parse_paimon_type_from_spark(f.dataType)
            if codec is None:  # nested types carry no single-value stats
                continue
            cols.append(f.name)
            codecs.append(codec)
            mins.append(_stat_typed_value(decode_stat(st["min_json"], f.dataType), codec))
            maxs.append(_stat_typed_value(decode_stat(st["max_json"], f.dataType), codec))
            nulls.append(st["null_count"])
        return (
            {
                "_MIN_VALUES": encode_binary_row(codecs, mins),
                "_MAX_VALUES": encode_binary_row(codecs, maxs),
                "_NULL_COUNTS": encode_long_array(nulls),
            },
            cols,
        )

    def _entry_from_row(self, row, kind: int, schema_id: int, seq: int) -> dict:
        fmt = row["file_format"]
        if kind == 0 and (fmt or "PARQUET").upper() != "PARQUET":
            # Paimon infers format from the file suffix; our FileStore
            # registration and read paths are parquet-based — refuse rather
            # than register a file readers would mis-parse
            raise NotImplementedError(
                f"Paimon target: data file {row['physical_path']!r} has format "
                f"{fmt}; the metadata-only FileStore layout here is parquet-only"
            )
        fm_stats, stats_cols = self._value_stats(row["column_stats"])
        empty = encode_binary_row([], [])
        path = row["physical_path"]
        return {
            "_VERSION": 2,
            "_KIND": kind,
            "_PARTITION": self._partition_blob(row["partition_values"]),
            "_BUCKET": 0,
            "_TOTAL_BUCKETS": 1,
            "_FILE": {
                "_FILE_NAME": os.path.basename(path),
                "_FILE_SIZE": int(row["size_bytes"]),
                "_ROW_COUNT": int(row["record_count"] or 0),
                "_MIN_KEY": empty,
                "_MAX_KEY": empty,
                "_KEY_STATS": {
                    "_MIN_VALUES": empty,
                    "_MAX_VALUES": empty,
                    "_NULL_COUNTS": encode_long_array([]),
                },
                "_VALUE_STATS": fm_stats,
                "_MIN_SEQUENCE_NUMBER": seq,
                "_MAX_SEQUENCE_NUMBER": seq,
                "_SCHEMA_ID": schema_id,
                "_LEVEL": 0,
                "_EXTRA_FILES": [],
                "_CREATION_TIME": int(row["last_modified_ms"] or EPOCH_MS_BASE),
                "_DELETE_ROW_COUNT": None,
                "_EMBEDDED_FILE_INDEX": None,
                "_FILE_SOURCE": 0,
                "_VALUE_STATS_COLS": stats_cols,
                "_EXTERNAL_PATH": path,
            },
        }

    def _remove_entry(self, path: str, part_blob: bytes, schema_id: int) -> dict:
        empty = encode_binary_row([], [])
        return {
            "_VERSION": 2,
            "_KIND": 1,
            "_PARTITION": part_blob,
            "_BUCKET": 0,
            "_TOTAL_BUCKETS": 1,
            "_FILE": {
                "_FILE_NAME": os.path.basename(path),
                "_FILE_SIZE": 0,
                "_ROW_COUNT": 0,
                "_MIN_KEY": empty,
                "_MAX_KEY": empty,
                "_KEY_STATS": {
                    "_MIN_VALUES": empty,
                    "_MAX_VALUES": empty,
                    "_NULL_COUNTS": encode_long_array([]),
                },
                "_VALUE_STATS": {
                    "_MIN_VALUES": empty,
                    "_MAX_VALUES": empty,
                    "_NULL_COUNTS": encode_long_array([]),
                },
                "_MIN_SEQUENCE_NUMBER": 0,
                "_MAX_SEQUENCE_NUMBER": 0,
                "_SCHEMA_ID": schema_id,
                "_LEVEL": 0,
                "_EXTRA_FILES": [],
                "_CREATION_TIME": EPOCH_MS_BASE,
                "_DELETE_ROW_COUNT": None,
                "_EMBEDDED_FILE_INDEX": None,
                "_FILE_SOURCE": 0,
                "_VALUE_STATS_COLS": [],
                "_EXTERNAL_PATH": path,
            },
        }

    def _write_manifest(self, entries: list[dict], schema_id: int) -> dict:
        from incubator_xtable_spark.sources.paimon_source import MANIFEST_AVRO_SCHEMA

        name = f"manifest-{uuid.uuid4().hex}-0.avro"
        path = os.path.join(self._dir("manifest"), name)
        size = write_ocf(path, MANIFEST_AVRO_SCHEMA, entries)
        return {
            "_VERSION": 2,
            "_FILE_NAME": name,
            "_FILE_SIZE": size,
            "_NUM_ADDED_FILES": sum(1 for e in entries if e["_KIND"] == 0),
            "_NUM_DELETED_FILES": sum(1 for e in entries if e["_KIND"] == 1),
            "_PARTITION_STATS": {
                "_MIN_VALUES": encode_binary_row([], []),
                "_MAX_VALUES": encode_binary_row([], []),
                "_NULL_COUNTS": encode_long_array([]),
            },
            "_SCHEMA_ID": schema_id,
        }

    def _write_manifest_list(self, metas: list[dict], suffix: int) -> str:
        from incubator_xtable_spark.sources.paimon_source import (
            MANIFEST_LIST_AVRO_SCHEMA,
        )

        name = f"manifest-list-{uuid.uuid4().hex}-{suffix}.avro"
        write_ocf(os.path.join(self._dir("manifest"), name), MANIFEST_LIST_AVRO_SCHEMA, metas)
        return name

    def _ensure_schema_file(self) -> int:
        """Write schema-N when the schema, partition keys, or bookmark
        changed (Paimon materializes option changes as new schema files).
        Returns the current schema id.

        Field ids follow real Paimon's evolution rule: surviving fields
        KEEP their ids (matched by name against the previous schema
        file) and new fields draw from the highestFieldId watermark —
        ordinal renumbering on a drop/mid-insert would break by-id
        schema-evolution resolution in real-Paimon readers. The
        watermark itself is monotone so dropped ids never recycle."""
        latest = self._latest_schema()
        prev_by_name: dict = {}
        prev_high = -1
        if latest is not None:
            prev_by_name = {f["name"]: int(f["id"]) for f in latest[1].get("fields", [])}
            prev_high = int(latest[1].get("highestFieldId", -1))
            if prev_by_name:
                prev_high = max(prev_high, max(prev_by_name.values()))
        next_id = prev_high
        fields = []
        for f in self._schema.fields:
            if f.name in prev_by_name:
                fid = prev_by_name[f.name]
            else:
                next_id += 1
                fid = next_id
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "type": spark_type_to_paimon_str(f.dataType, f.nullable),
                }
            )
        options = {}
        if latest is not None:
            options.update(latest[1].get("options") or {})
        if self._metadata_json is not None:
            options[XTABLE_OPTION_KEY] = self._metadata_json
        doc = {
            "version": 3,
            "id": 0 if latest is None else latest[0],
            "fields": fields,
            "highestFieldId": max(
                next_id, prev_high, max((f["id"] for f in fields), default=-1)
            ),
            "partitionKeys": self._partition_keys,
            "primaryKeys": [],
            "options": options,
            "timeMillis": EPOCH_MS_BASE,
        }
        if latest is not None:
            prev_id, prev = latest
            unchanged = (
                prev.get("fields") == fields
                and prev.get("partitionKeys") == self._partition_keys
                and (prev.get("options") or {}) == options
            )
            if unchanged:
                return prev_id
            doc["id"] = prev_id + 1
        sid = doc["id"]
        with open(os.path.join(self._dir("schema"), f"schema-{sid}"), "w") as fh:
            json.dump(doc, fh)
        return sid

    # -- commit ------------------------------------------------------------

    def complete_sync(self) -> int:
        if self._schema is None and self._table is not None:
            self._schema = self._table.read_schema
        schema_id = self._ensure_schema_file()
        prev = self._latest_snapshot()
        new_id = (prev["id"] + 1) if prev else 1
        base_metas: list[dict] = []
        if prev is not None:
            from incubator_xtable_spark.sources.paimon_source import (
                PaimonConversionSource,
            )

            src = PaimonConversionSource(self.spark, self.base_path)
            for ln in (prev.get("baseManifestList"), prev.get("deltaManifestList")):
                if ln:
                    base_metas.extend(src._read_manifest_list(ln))

        entries: list[dict] = []
        # per-file sequence numbers: monotonic across snapshots (append
        # tables only need the total order, not density)
        seq = new_id * 1_000_000
        for row in self._adds or ():
            seq += 1
            entries.append(self._entry_from_row(row, 0, schema_id, seq))
        for path, blob in self._removes:
            entries.append(self._remove_entry(path, blob, schema_id))

        base_list = self._write_manifest_list(base_metas, 0)
        delta_meta = self._write_manifest(entries, schema_id) if entries else None
        delta_list = self._write_manifest_list([delta_meta] if delta_meta else [], 1)
        delta_rows = sum(
            e["_FILE"]["_ROW_COUNT"] for e in entries if e["_KIND"] == 0
        )
        # deletion vectors: a row-delete restatement (even empty) replaces
        # the index; a sync WITHOUT the channel carries the prior index
        if self._row_deletes is not None:
            index_manifest = self._write_dv_index(schema_id)
        else:
            index_manifest = prev.get("indexManifest") if prev else None
        changelog_list = None
        changelog_rows = 0
        if self._row_changes is not None and prev is not None:
            cl = self._write_changelog(schema_id)
            if cl is not None:
                changelog_list, changelog_rows = cl
        snapshot = {
            "version": 3,
            "id": new_id,
            "schemaId": schema_id,
            "baseManifestList": base_list,
            "deltaManifestList": delta_list,
            "changelogManifestList": changelog_list,
            "indexManifest": index_manifest,
            "commitUser": "xtable-spark",
            "commitIdentifier": new_id,
            "commitKind": self._commit_kind_override
            or ("OVERWRITE" if self._removes else "APPEND"),
            "timeMillis": EPOCH_MS_BASE + new_id * 1000,
            "logOffsets": {},
            "totalRecordCount": None,
            "deltaRecordCount": delta_rows,
            "changelogRecordCount": changelog_rows,
            "watermark": None,
        }
        snap_dir = self._dir("snapshot")
        final = os.path.join(snap_dir, f"snapshot-{new_id}")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(snapshot, fh)
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise RuntimeError(f"concurrent Paimon commit at snapshot {new_id}") from exc
        finally:
            os.unlink(tmp)
        with open(os.path.join(snap_dir, "LATEST"), "w") as fh:
            fh.write(str(new_id))
        earliest = os.path.join(snap_dir, "EARLIEST")
        if not os.path.exists(earliest):
            with open(earliest, "w") as fh:
                fh.write(str(new_id))
        return new_id

    def get_target_commit_identifier(self) -> Optional[str]:
        """ConversionTarget.getTargetCommitIdentifier: the snapshot id of
        the last commit this target object completed."""
        snap = self._latest_snapshot()
        return str(snap["id"]) if snap else None

    # -- bookmark ----------------------------------------------------------

    def get_table_metadata(self) -> Optional[TableSyncMetadata]:
        latest = self._latest_schema()
        if latest is None:
            return None
        raw = (latest[1].get("options") or {}).get(XTABLE_OPTION_KEY)
        return TableSyncMetadata.from_json(raw) if raw else None
