"""Paimon test-table builder: writes a real Paimon FileStore directory
layout (schema/schema-N JSON, snapshot/snapshot-N JSON + hints,
manifest-list/manifest avro, BinaryRow partition + SimpleStats blobs,
parquet data files under <partition>/bucket-N/) from the public spec.

Test-scope analog of the reference's TestPaimonTable (used by
paimon/TestPaimonConversionSource.java) — that helper drives the real
Paimon library; this environment has no Paimon jars, so the writer
produces the on-disk format directly. The reader under test
(sources/paimon_source.py) shares only the Avro schema constants and
the BinaryRow codec with this writer; the layout itself (paths, JSON
shapes, merge semantics) is produced and consumed by independent code
paths.
"""

from __future__ import annotations

import datetime
import json
import os
import uuid
from decimal import Decimal
from typing import Any, Optional, Sequence

import pyarrow as pa
import pyarrow.parquet as pq

from incubator_xtable_spark.model.avro_codec import write_ocf
from incubator_xtable_spark.model.paimon_binary import (
    PaimonFieldType,
    encode_binary_row,
    encode_long_array,
)
from incubator_xtable_spark.sources.paimon_source import (
    MANIFEST_AVRO_SCHEMA,
    MANIFEST_LIST_AVRO_SCHEMA,
    parse_paimon_type,
)

EPOCH_MS = 1_700_000_000_000  # deterministic commit clock base


def _pa_type(codec: PaimonFieldType) -> pa.DataType:
    return {
        "boolean": pa.bool_(),
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "bytes": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
        "decimal": pa.decimal128(codec.precision or 10, codec.scale),
    }[codec.kind]


def _stat_encode_value(v: Any, codec: PaimonFieldType) -> Any:
    """Python row value -> codec-native value for BinaryRow stats."""
    if v is None:
        return None
    if codec.kind == "date" and isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if codec.kind == "timestamp" and isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1)
        delta = v - epoch
        millis = delta.days * 86_400_000 + delta.seconds * 1000 + delta.microseconds // 1000
        nanos = (delta.microseconds % 1000) * 1000
        return (millis, nanos)
    return v


class PaimonTestTable:
    def __init__(
        self,
        spark,
        base_path: str,
        fields: Sequence[tuple[str, str]],
        partition_keys: Sequence[str] = (),
        primary_keys: Sequence[str] = (),
        options: Optional[dict] = None,
        stats_cols: Optional[Sequence[str]] = None,
        file_format: str = "parquet",
    ) -> None:
        self.base = base_path.rstrip("/")
        # Paimon `file.format` option: data-file container format; the
        # suffix identifies the format per file, so a table can mix formats
        # across commits (mutate self.fmt mid-history to simulate that)
        self.fmt = file_format
        self.fields = list(fields)
        self.partition_keys = list(partition_keys)
        self.primary_keys = list(primary_keys)
        self.options = dict(options or {})
        # None => stats for all columns (valueStatsCols absent in manifests)
        self.stats_cols = list(stats_cols) if stats_cols is not None else None
        self._codecs = {n: parse_paimon_type(t)[1] for n, t in self.fields}
        self._schema_id = 0
        self._snapshot_id = 0
        self._commit_identifier = 0
        self._sequence = 0
        self._base_manifests: list[dict] = []  # accumulated ManifestFileMeta rows
        # full-state deletion-vectors index manifest, carried on every
        # subsequent snapshot until replaced/cleared
        self._index_manifest: Optional[str] = None

    # -- layout ------------------------------------------------------------

    def _dir(self, *segs: str) -> str:
        p = os.path.join(self.base, *segs)
        os.makedirs(os.path.dirname(p) if "." in os.path.basename(p) else p, exist_ok=True)
        return p

    def create(self) -> "PaimonTestTable":
        os.makedirs(os.path.join(self.base, "schema"), exist_ok=True)
        os.makedirs(os.path.join(self.base, "snapshot"), exist_ok=True)
        os.makedirs(os.path.join(self.base, "manifest"), exist_ok=True)
        schema = {
            "version": 3,
            "id": 0,
            "fields": [
                {"id": i, "name": n, "type": t} for i, (n, t) in enumerate(self.fields)
            ],
            "highestFieldId": len(self.fields) - 1,
            "partitionKeys": self.partition_keys,
            "primaryKeys": self.primary_keys,
            "options": self.options,
            "timeMillis": EPOCH_MS,
        }
        with open(os.path.join(self.base, "schema", "schema-0"), "w") as fh:
            json.dump(schema, fh)
        return self

    def evolve(self, fields) -> "PaimonTestTable":
        """Schema evolution: write schema-(id+1); later commits reference
        it via snapshot.schemaId and per-file _SCHEMA_ID."""
        self.fields = list(fields)
        self._codecs = {n: parse_paimon_type(t)[1] for n, t in self.fields}
        self._schema_id += 1
        schema = {
            "version": 3,
            "id": self._schema_id,
            "fields": [
                {"id": i, "name": n, "type": t} for i, (n, t) in enumerate(self.fields)
            ],
            "highestFieldId": len(self.fields) - 1,
            "partitionKeys": self.partition_keys,
            "primaryKeys": self.primary_keys,
            "options": self.options,
            "timeMillis": EPOCH_MS + self._schema_id,
        }
        with open(
            os.path.join(self.base, "schema", f"schema-{self._schema_id}"), "w"
        ) as fh:
            json.dump(schema, fh)
        return self

    # -- data files --------------------------------------------------------

    def _partition_blob(self, part_vals: dict) -> bytes:
        codecs = [self._codecs[k] for k in self.partition_keys]
        values = [
            _stat_encode_value(part_vals.get(k), self._codecs[k]) for k in self.partition_keys
        ]
        return encode_binary_row(codecs, values)

    def _partition_path(self, part_vals: dict) -> Optional[str]:
        if not self.partition_keys:
            return None
        from incubator_xtable_spark.sources.paimon_source import format_partition_value

        by_name = dict(self.fields)
        segs = []
        for k in self.partition_keys:
            dtype = parse_paimon_type(by_name[k])[0]
            segs.append(f"{k}={format_partition_value(part_vals[k], dtype, self.options)}")
        return "/".join(segs)

    def _value_stats(self, rows: list[dict], data_cols: list[str]) -> tuple[dict, Optional[list]]:
        cols = self.stats_cols if self.stats_cols is not None else data_cols
        mins, maxs, nulls = [], [], []
        for c in cols:
            codec = self._codecs[c]
            vals = [r.get(c) for r in rows]
            present = [v for v in vals if v is not None]
            mn = min(present) if present else None
            mx = max(present) if present else None
            mins.append(_stat_encode_value(mn, codec))
            maxs.append(_stat_encode_value(mx, codec))
            nulls.append(sum(1 for v in vals if v is None))
        codecs = [self._codecs[c] for c in cols]
        stats = {
            "_MIN_VALUES": encode_binary_row(codecs, mins),
            "_MAX_VALUES": encode_binary_row(codecs, maxs),
            "_NULL_COUNTS": encode_long_array(nulls),
        }
        return stats, (list(cols) if self.stats_cols is not None else None)

    def _write_parquet(self, rows: list[dict], data_cols: list[str], path: str) -> None:
        arrays, names = [], []
        for c in data_cols:
            codec = self._codecs[c]
            vals = [r.get(c) for r in rows]
            if codec.kind == "decimal":
                vals = [None if v is None else Decimal(v) for v in vals]
            arrays.append(pa.array(vals, type=_pa_type(codec)))
            names.append(c)
        self._write_table(pa.table(arrays, names=names), path)

    # avro spellings for the fixture-supported scalar kinds (simple types
    # only — the ORC/AVRO tests exercise container plumbing, not the full
    # logical-type matrix, which the parquet fixtures already cover)
    _AVRO_KINDS = {
        "boolean": "boolean",
        "tinyint": "int",
        "smallint": "int",
        "int": "int",
        "bigint": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "bytes": "bytes",
    }

    def _write_table(self, table: pa.Table, path: str) -> None:
        if self.fmt == "parquet":
            pq.write_table(table, path)
        elif self.fmt == "orc":
            import pyarrow.orc as po

            po.write_table(table, path)
        elif self.fmt == "avro":
            from incubator_xtable_spark.model.avro_codec import write_ocf

            fields = []
            for name in table.column_names:
                t = table.schema.field(name).type
                kind = {
                    pa.bool_(): "boolean",
                    pa.int8(): "int",
                    pa.int16(): "int",
                    pa.int32(): "int",
                    pa.int64(): "long",
                    pa.float32(): "float",
                    pa.float64(): "double",
                    pa.string(): "string",
                    pa.binary(): "bytes",
                }.get(t)
                if kind is None:
                    raise NotImplementedError(f"avro fixture: unsupported type {t}")
                fields.append({"name": name, "type": ["null", kind]})
            schema = {"type": "record", "name": "paimon_row", "fields": fields}
            cols = {c: table.column(c).to_pylist() for c in table.column_names}
            records = [
                {c: cols[c][i] for c in table.column_names} for i in range(table.num_rows)
            ]
            write_ocf(path, schema, records)
        else:
            raise ValueError(f"unknown fixture file format {self.fmt!r}")

    def _make_entry(
        self, rows: list[dict], part_vals: dict, bucket: int, level: int, kind: int = 0
    ) -> dict:
        # Paimon data files store the FULL row including partition columns
        # (unlike Iceberg/Hive); valueStats consequently cover every field
        # (PaimonStatsExtractor.java:66-70: default colNames = all fields)
        data_cols = [n for n, _ in self.fields]
        part_path = self._partition_path(part_vals)
        bucket_dir = (
            os.path.join(self.base, part_path, f"bucket-{bucket}")
            if part_path
            else os.path.join(self.base, f"bucket-{bucket}")
        )
        os.makedirs(bucket_dir, exist_ok=True)
        fname = f"data-{uuid.uuid4().hex[:12]}-0.{self.fmt}"
        fpath = os.path.join(bucket_dir, fname)
        self._write_parquet(rows, data_cols, fpath)
        stats, stats_cols = self._value_stats(rows, data_cols)
        seq = self._sequence
        self._sequence += 1
        empty_row = encode_binary_row([], [])
        return {
            "_VERSION": 2,
            "_KIND": kind,
            "_PARTITION": self._partition_blob(part_vals),
            "_BUCKET": bucket,
            "_TOTAL_BUCKETS": 1,
            "_FILE": {
                "_FILE_NAME": fname,
                "_FILE_SIZE": os.path.getsize(fpath),
                "_ROW_COUNT": len(rows),
                "_MIN_KEY": empty_row,
                "_MAX_KEY": empty_row,
                "_KEY_STATS": {
                    "_MIN_VALUES": empty_row,
                    "_MAX_VALUES": empty_row,
                    "_NULL_COUNTS": encode_long_array([]),
                },
                "_VALUE_STATS": stats,
                "_MIN_SEQUENCE_NUMBER": seq,
                "_MAX_SEQUENCE_NUMBER": seq,
                "_SCHEMA_ID": self._schema_id,
                "_LEVEL": level,
                "_EXTRA_FILES": [],
                "_CREATION_TIME": EPOCH_MS + self._snapshot_id * 1000,
                "_DELETE_ROW_COUNT": None,
                "_EMBEDDED_FILE_INDEX": None,
                "_FILE_SOURCE": 0,
                "_VALUE_STATS_COLS": stats_cols,
                "_EXTERNAL_PATH": None,
            },
        }

    @staticmethod
    def delete_entry_of(entry: dict) -> dict:
        out = dict(entry)
        out["_KIND"] = 1
        return out

    # -- commits -----------------------------------------------------------

    def _write_manifest(self, entries: list[dict]) -> dict:
        name = f"manifest-{uuid.uuid4().hex}-0.avro"
        path = os.path.join(self.base, "manifest", name)
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
            "_SCHEMA_ID": self._schema_id,
        }

    def _write_manifest_list(self, metas: list[dict], suffix: int) -> str:
        name = f"manifest-list-{uuid.uuid4().hex}-{suffix}.avro"
        path = os.path.join(self.base, "manifest", name)
        write_ocf(path, MANIFEST_LIST_AVRO_SCHEMA, metas)
        return name

    def commit(
        self,
        delta_entries: list[dict],
        kind: str = "APPEND",
        changelog_entries: Optional[list[dict]] = None,
    ) -> int:
        """Write delta manifest (+list), base list = accumulated prior
        manifests, snapshot JSON, hints. Returns the new snapshot id."""
        self._snapshot_id += 1
        self._commit_identifier += 1
        sid = self._snapshot_id
        base_list = self._write_manifest_list(list(self._base_manifests), 0)
        delta_meta = self._write_manifest(delta_entries) if delta_entries else None
        delta_list = self._write_manifest_list(
            [delta_meta] if delta_meta else [], 1
        )
        if delta_meta:
            self._base_manifests.append(delta_meta)
        changelog_list = None
        changelog_rows = 0
        if changelog_entries:
            cl_meta = self._write_manifest(changelog_entries)
            changelog_list = self._write_manifest_list([cl_meta], 2)
            changelog_rows = sum(e["_FILE"]["_ROW_COUNT"] for e in changelog_entries)
        total = None  # Paimon stores counts; reader does not rely on them
        snapshot = {
            "version": 3,
            "id": sid,
            "schemaId": self._schema_id,
            "baseManifestList": base_list,
            "deltaManifestList": delta_list,
            "changelogManifestList": changelog_list,
            "indexManifest": self._index_manifest,
            "commitUser": "test-user",
            "commitIdentifier": self._commit_identifier,
            "commitKind": kind,
            "timeMillis": EPOCH_MS + sid * 1000,
            "logOffsets": {},
            "totalRecordCount": total,
            "deltaRecordCount": sum(
                e["_FILE"]["_ROW_COUNT"] for e in delta_entries if e["_KIND"] == 0
            ),
            "changelogRecordCount": changelog_rows,
            "watermark": None,
        }
        with open(os.path.join(self.base, "snapshot", f"snapshot-{sid}"), "w") as fh:
            json.dump(snapshot, fh)
        with open(os.path.join(self.base, "snapshot", "LATEST"), "w") as fh:
            fh.write(str(sid))
        earliest_path = os.path.join(self.base, "snapshot", "EARLIEST")
        if not os.path.exists(earliest_path):
            with open(earliest_path, "w") as fh:
                fh.write("1")
        return sid

    def append(
        self, rows: list[dict], bucket: int = 0, level: int = 0, kind: str = "APPEND"
    ) -> tuple[int, list[dict]]:
        """Append rows (grouped per distinct partition tuple) as one data
        file per (partition, bucket). Returns (snapshot_id, add entries)."""
        groups: dict[tuple, list[dict]] = {}
        for r in rows:
            key = tuple(r.get(k) for k in self.partition_keys)
            groups.setdefault(key, []).append(r)
        entries = []
        for key, grp in groups.items():
            part_vals = dict(zip(self.partition_keys, key))
            entries.append(self._make_entry(grp, part_vals, bucket, level))
        sid = self.commit(entries, kind=kind)
        return sid, entries

    def compact(self, old_entries: list[dict], rows: list[dict], top_level: int = 5) -> tuple[int, list[dict]]:
        """Primary-key compaction: DELETE the old (low-level) files, ADD
        one top-level file per partition with the merged rows."""
        deletes = [self.delete_entry_of(e) for e in old_entries]
        groups: dict[tuple, list[dict]] = {}
        for r in rows:
            key = tuple(r.get(k) for k in self.partition_keys)
            groups.setdefault(key, []).append(r)
        adds = []
        for key, grp in groups.items():
            part_vals = dict(zip(self.partition_keys, key))
            adds.append(self._make_entry(grp, part_vals, 0, top_level))
        sid = self.commit(deletes + adds, kind="COMPACT")
        return sid, adds

    def overwrite(self, old_entries: list[dict], rows: list[dict]) -> tuple[int, list[dict]]:
        """OVERWRITE commit: drop the given files, add replacement rows."""
        deletes = [self.delete_entry_of(e) for e in old_entries]
        groups: dict[tuple, list[dict]] = {}
        for r in rows:
            key = tuple(r.get(k) for k in self.partition_keys)
            groups.setdefault(key, []).append(r)
        adds = []
        for key, grp in groups.items():
            part_vals = dict(zip(self.partition_keys, key))
            adds.append(self._make_entry(grp, part_vals, 0, 0))
        sid = self.commit(deletes + adds, kind="OVERWRITE")
        return sid, adds

    # -- deletion vectors ---------------------------------------------------

    def _write_index_manifest(self, entries: list[dict]) -> str:
        from incubator_xtable_spark.sources.paimon_source import (
            INDEX_MANIFEST_AVRO_SCHEMA,
        )

        name = f"index-manifest-{uuid.uuid4().hex}-0"
        write_ocf(
            os.path.join(self.base, "manifest", name), INDEX_MANIFEST_AVRO_SCHEMA, entries
        )
        return name

    def set_deletion_vectors(
        self, groups: list[tuple[dict, int, dict[str, list[int]]]], kind: str = "APPEND"
    ) -> int:
        """Write deletion vectors as a FULL-state index (one DV index file
        per (partition, bucket) group, one index manifest listing them
        all), then commit with no data-file changes — the shape of a
        Paimon delete statement under deletion-vectors.enabled.

        groups: [(part_vals, bucket, {data_file_name: positions})]."""
        from incubator_xtable_spark.sources.paimon_dv import (
            DELETION_VECTORS_INDEX,
            write_dv_index_file,
        )

        entries = []
        for part_vals, bucket, dvs in groups:
            name, size, metas = write_dv_index_file(self.base, dvs)
            entries.append(
                {
                    "_VERSION": 1,
                    "_KIND": 0,
                    "_PARTITION": self._partition_blob(part_vals),
                    "_BUCKET": bucket,
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
        self._index_manifest = self._write_index_manifest(entries)
        return self.commit([], kind=kind)

    def clear_deletion_vectors(self, kind: str = "APPEND") -> int:
        self._index_manifest = None
        return self.commit([], kind=kind)

    # -- changelog ----------------------------------------------------------

    # RowKind ordinals (Paimon/Flink convention)
    ROW_KIND = {"+I": 0, "-U": 1, "+U": 2, "-D": 3}

    def _make_changelog_entry(
        self, rows_with_kind: list[tuple[str, dict]], part_vals: dict, bucket: int
    ) -> dict:
        """A changelog data file: parquet of _VALUE_KIND (tinyint RowKind
        ordinal) + the row columns — the key-value layout's kind field
        surfaced as a column (documented fixture simplification)."""
        part_path = self._partition_path(part_vals)
        bucket_dir = (
            os.path.join(self.base, part_path, f"bucket-{bucket}")
            if part_path
            else os.path.join(self.base, f"bucket-{bucket}")
        )
        os.makedirs(bucket_dir, exist_ok=True)
        fname = f"changelog-{uuid.uuid4().hex[:12]}-0.{self.fmt}"
        fpath = os.path.join(bucket_dir, fname)
        arrays = {
            "_VALUE_KIND": pa.array(
                [self.ROW_KIND[k] for k, _ in rows_with_kind], pa.int8()
            )
        }
        for c, _t in self.fields:
            arrays[c] = pa.array(
                [r.get(c) for _, r in rows_with_kind], _pa_type(self._codecs[c])
            )
        self._write_table(pa.table(arrays), fpath)
        empty_row = encode_binary_row([], [])
        empty_stats = {
            "_MIN_VALUES": empty_row,
            "_MAX_VALUES": empty_row,
            "_NULL_COUNTS": encode_long_array([]),
        }
        seq = self._sequence
        self._sequence += 1
        return {
            "_VERSION": 2,
            "_KIND": 0,
            "_PARTITION": self._partition_blob(part_vals),
            "_BUCKET": bucket,
            "_TOTAL_BUCKETS": 1,
            "_FILE": {
                "_FILE_NAME": fname,
                "_FILE_SIZE": os.path.getsize(fpath),
                "_ROW_COUNT": len(rows_with_kind),
                "_MIN_KEY": empty_row,
                "_MAX_KEY": empty_row,
                "_KEY_STATS": empty_stats,
                "_VALUE_STATS": dict(empty_stats),
                "_MIN_SEQUENCE_NUMBER": seq,
                "_MAX_SEQUENCE_NUMBER": seq,
                "_SCHEMA_ID": self._schema_id,
                "_LEVEL": 0,
                "_EXTRA_FILES": [],
                "_CREATION_TIME": EPOCH_MS + self._snapshot_id * 1000,
                "_DELETE_ROW_COUNT": None,
                "_EMBEDDED_FILE_INDEX": None,
                "_FILE_SOURCE": 0,
                "_VALUE_STATS_COLS": [],
                "_EXTERNAL_PATH": None,
            },
        }

    def commit_with_changelog(
        self,
        delta_entries: list[dict],
        changes: list[tuple[str, dict]],
        kind: str = "APPEND",
    ) -> int:
        """Commit data-file changes together with a changelog manifest
        describing the row-level changes (changelog-producer=input/lookup
        shape)."""
        groups: dict[tuple, list[tuple[str, dict]]] = {}
        for kind_str, r in changes:
            key = tuple(r.get(k) for k in self.partition_keys)
            groups.setdefault(key, []).append((kind_str, r))
        cl_entries = [
            self._make_changelog_entry(grp, dict(zip(self.partition_keys, key)), 0)
            for key, grp in groups.items()
        ]
        return self.commit(delta_entries, kind=kind, changelog_entries=cl_entries)

    def expire_snapshots_before(self, keep_from_id: int) -> None:
        """Simulate snapshot expiration: delete snapshot-N files with
        N < keep_from_id and advance the EARLIEST hint."""
        snap_dir = os.path.join(self.base, "snapshot")
        for n in os.listdir(snap_dir):
            if n.startswith("snapshot-") and n[len("snapshot-") :].isdigit():
                if int(n[len("snapshot-") :]) < keep_from_id:
                    os.remove(os.path.join(snap_dir, n))
        with open(os.path.join(snap_dir, "EARLIEST"), "w") as fh:
            fh.write(str(keep_from_id))
