"""Iceberg conversion source: reads the HadoopTables metadata tree
(version-hint -> vN.metadata.json -> manifest-list avro -> manifest avro)
written by our target or any spec-conforming writer of the same subset.

Reference parity:
- snapshot scan (planFiles w/ stats) iceberg/IcebergConversionSource.java:90-199
  (live entries, inheritance applied: model/iceberg_manifests)
- commit diff (added/removedDataFiles)
                                     iceberg/IcebergConversionSource.java:204-232
- commits backlog (parentId chain)   iceberg/IcebergConversionSource.java:235-261
- incremental-safety (broken chain => snapshot expired => unsafe)
                                     iceberg/IcebergConversionSource.java:266-290
- schema w/ field ids                iceberg/IcebergSchemaExtractor.java:114-300
- v2 position deletes and v3 deletion vectors: content=1 manifests,
  file_path/pos delete parquets and Puffin blobs, the delete_seq >=
  data_seq application rule. `_resolve_deletes` reads them on the driver
  into each data file's positions (metadata-sized); readers anti-join
  on those, conversions write positions files or purged shadows from
  them through sources/row_deletes (the same path as Delta and Paimon
  deletion vectors), so every target stays row-accurate.
- v2 equality deletes: content=2 manifests with equality_ids resolve to
  positions via a distributed null-safe join against the data files
  they apply to under the STRICT rule data_seq < delete_seq (with
  per-partition scoping), then ride the same position path — reads,
  purged shadows, and row-delete exposure all inherit them.
"""

from __future__ import annotations

import json
import logging
import os
from typing import Optional

log = logging.getLogger(__name__)

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_xtable_spark.model.core import (
    CommitsBacklog,
    DataLayoutStrategy,
    FILE_INVENTORY_ARROW,
    InstantsForIncrementalSync,
    InternalSnapshot,
    InternalTable,
    TableChange,
    TableFormat,
    arrow_table,
)
from incubator_xtable_spark.model import file_formats as _ff
from incubator_xtable_spark.model.iceberg_manifests import live_entries, snapshot_by_id
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata, XTABLE_METADATA_KEY
from incubator_xtable_spark.sources.change_plan import (
    ChangeFile,
    ChangePlan,
    read_changes,
    read_positions,
)
from incubator_xtable_spark.sources.file_scan import ScanGroup, scan_files
from incubator_xtable_spark.sources.row_deletes import (
    positions_id,
    shadow_path,
)
from incubator_xtable_spark.targets.iceberg_target import (
    iceberg_fields_to_schema,
    read_table_metadata,
)


# -- delete application rules (Iceberg spec "Scan Planning") ---------------
# The snapshot resolver (`IcebergConversionSource._resolve_deletes`) and
# the change planner (`plan_changes`) both apply deletes through these.

# the delete-file fields `delete_file_positions` reads, carried in a plan
_POSITION_FILE_KEYS = (
    "file_path",
    "file_format",
    "referenced_data_file",
    "content_offset",
    "content_size_in_bytes",
)


# the scope of a delete file without partition values: it applies globally
_GLOBAL_SCOPE = ""


def _scope_key(part: Optional[dict]) -> str:
    """A partition as a comparable string; `_GLOBAL_SCOPE` for none."""
    if not part:
        return _GLOBAL_SCOPE
    return json.dumps({k: str(v) for k, v in sorted(part.items())}, sort_keys=True)


def is_equality_delete(entry: dict) -> bool:
    return (entry["data_file"].get("content") or 0) == 2


def position_delete_applies(entry: dict, data_seq: int) -> bool:
    """A position-delete file or deletion vector applies to data files
    whose sequence number is at most its own (delete_seq >= data_seq)."""
    return entry["sequence_number"] >= data_seq


def _equality_rule(delete_seq, data_seq, delete_scope, data_scope):
    """An equality-delete file applies to data files STRICTLY older than
    it (data_seq < delete_seq), and only within its partition scope; a
    global one applies everywhere. Its operators mean the same on Python
    values and on Spark columns, so the driver and the batch join
    (`equality_positions_df`) apply this one expression."""
    return (data_seq < delete_seq) & (
        (delete_scope == _GLOBAL_SCOPE) | (delete_scope == data_scope)
    )


def equality_delete_applies(entry: dict, data_seq: int, data_partition: Optional[dict]) -> bool:
    return bool(
        _equality_rule(
            entry["sequence_number"],
            data_seq,
            _scope_key(entry["data_file"].get("partition")),
            _scope_key(data_partition),
        )
    )


def dv_reference(delete_file: dict) -> Optional[str]:
    """The data file a v3 deletion vector (a Puffin blob) covers; None
    for a position-delete parquet, which names its data files per row
    (it may carry `referenced_data_file` too, when they are all one)."""
    if (delete_file.get("file_format") or "").upper() != "PUFFIN":
        return None
    ref = delete_file.get("referenced_data_file")
    if ref is None:
        # a DV blob is positions OF ONE data file; without the manifest
        # reference (field 143) it cannot be attributed
        raise ValueError(
            f"puffin deletion vector {delete_file['file_path']} carries no "
            "referenced_data_file; cannot attribute its positions"
        )
    return ref


def _positions_by_file(table: pa.Table) -> dict[str, np.ndarray]:
    """A (file_path, pos) table split per data file (one sort, so a
    delete file naming many data files costs O(rows log rows))."""
    paths = table.column("file_path").combine_chunks().dictionary_encode()
    codes = paths.indices.to_numpy(zero_copy_only=False)
    pos = table.column("pos").to_numpy().astype(np.int64)
    counts = np.bincount(codes, minlength=len(paths.dictionary))
    parts = np.split(pos[np.argsort(codes, kind="stable")], np.cumsum(counts)[:-1])
    return dict(zip(paths.dictionary.to_pylist(), parts))


def delete_file_positions(delete_file: dict) -> dict[str, np.ndarray]:
    """{data file path: deleted positions} of one position-delete file,
    read on the driver: a Puffin deletion-vector blob, or a v2 parquet
    read once and split per data file it names."""
    from incubator_xtable_spark.model.puffin import read_dv_positions_from_puffin

    ref = dv_reference(delete_file)
    if ref is not None:
        positions = read_dv_positions_from_puffin(
            delete_file["file_path"],
            int(delete_file["content_offset"]),
            int(delete_file["content_size_in_bytes"]),
        )
        return {ref: positions.astype(np.int64)}
    _ff.require_parquet(
        [(delete_file["file_path"], _ff.from_iceberg_manifest(delete_file.get("file_format")))],
        reader="iceberg position-delete read",
    )
    return _positions_by_file(pq.read_table(delete_file["file_path"], columns=["file_path", "pos"]))


def equality_source(entry: dict) -> dict:
    """An equality-delete manifest entry as the descriptor planners and
    `equality_positions_df` use: path, format, sorted equality field ids,
    sequence number and partition scope."""
    df = entry["data_file"]
    ids = sorted(df.get("equality_ids") or [])
    if not ids:
        raise ValueError(f"equality delete file {df['file_path']} has no equality_ids")
    return {
        "kind": "equality",
        "path": df["file_path"],
        "file_format": df.get("file_format"),
        "eq_ids": ids,
        "seq": entry["sequence_number"],
        "scope": _scope_key(df.get("partition")),
    }


def equality_fields(schema: T.StructType, eq_ids: list[int]) -> list[T.StructField]:
    """The top-level columns an equality delete's field ids name."""
    by_id = {(f.metadata or {}).get("xtable.fieldId"): f for f in schema.fields}
    fields = []
    for fid in eq_ids:
        f = by_id.get(fid)
        if f is None:
            raise ValueError(
                f"equality delete references field id {fid} that is not a "
                "top-level column; nested equality columns are not supported"
            )
        fields.append(f)
    return fields


def equality_positions_df(
    spark: SparkSession,
    meta: dict,
    table: InternalTable,
    deletes: list[dict],
    data_files: dict[str, tuple],
) -> Optional[DataFrame]:
    """Resolve v2 EQUALITY deletes (`equality_source` descriptors) to the
    (file_path, pos) rows they delete in ``data_files`` ({path: (sequence
    number, partition scope, identity partition values)}); None when no
    delete applies anywhere.

    Per distinct equality-id set: ONE distributed scan of only the data
    files some delete file applies to, pruned to the equality columns +
    row index, joined null-safely (Iceberg equality matches NULLs)
    against the delete rows under `_equality_rule` (the STRICT data_seq <
    delete_seq rule, partition-scoped: a delete file written into a
    partition applies only there, a partition-less one globally). The
    driver sends one row per candidate data file (sequence number,
    scope) and tags each delete file's rows with its own, so the
    metadata shipped is linear in data files plus delete files.
    Identity-partition equality columns absent from the data files
    re-attach from manifest values.

    Scale: cost is one column-pruned scan of candidate files per id set —
    the minimum any engine pays to apply equality deletes; the join keys
    are the equality columns, so AQE broadcasts the (typically tiny
    CDC-key) delete side."""
    if not deletes or not data_files:
        return None
    identity_cols = _identity_columns(table)
    groups: dict[tuple, list[dict]] = {}
    for d in {d["path"]: d for d in deletes}.values():
        groups.setdefault(tuple(d["eq_ids"]), []).append(d)

    out_parts = []
    for ids, group in groups.items():
        fields = equality_fields(table.read_schema, list(ids))
        cols = [f.name for f in fields]
        # the rule only widens with delete_seq, so a data file is a
        # candidate iff the newest delete in its scope or the newest
        # global one applies to it
        newest: dict[str, int] = {}
        for d in group:
            newest[d["scope"]] = max(newest.get(d["scope"], d["seq"]), d["seq"])
        cand = sorted(
            p
            for p, (seq, scope, _) in data_files.items()
            if any(
                _equality_rule(newest[k], seq, k, scope)
                for k in {_GLOBAL_SCOPE, scope}
                if k in newest
            )
        )
        if not cand:
            continue
        file_fields = [f for f in fields if f.name not in identity_cols]
        # name mapping: renamed sources' files store physical names,
        # resolved per distinct footer schema (mixed provenances read
        # each with their own resolution)
        part_fields = [f for f in fields if f.name in identity_cols]
        df = scan_files(
            spark,
            _scan_groups(meta, T.StructType(file_fields), cand),
            fields,
            partition_values={
                p: {
                    f.name: None if data_files[p][2].get(f.name) is None else str(data_files[p][2][f.name])
                    for f in part_fields
                }
                for p in cand
            },
            file_rows=True,
        ).withColumnRenamed("_fp", "file_path").withColumnRenamed("_ri", "pos")
        info = spark.createDataFrame(
            [(p, data_files[p][0], data_files[p][1]) for p in cand],
            "file_path STRING, _data_seq LONG, _data_scope STRING",
        )
        df = df.join(F.broadcast(info), "file_path")
        del_schema = T.StructType([T.StructField(f.name, f.dataType) for f in fields])
        del_parts = []
        for d in group:
            _ff.require_parquet(
                [(d["path"], _ff.from_iceberg_manifest(d["file_format"]))],
                reader="iceberg equality-delete read",
            )
            del_parts.append(
                spark.read.schema(del_schema)
                .parquet(d["path"])
                .withColumn("_del_seq", F.lit(d["seq"]).cast("long"))
                .withColumn("_del_scope", F.lit(d["scope"]))
            )
        dels = del_parts[0]
        for p in del_parts[1:]:
            dels = dels.unionByName(p)
        dels = dels.select(*[F.col(c).alias(f"_del_{c}") for c in cols], "_del_seq", "_del_scope")
        cond = _equality_rule(
            F.col("_del_seq"), F.col("_data_seq"), F.col("_del_scope"), F.col("_data_scope")
        )
        for c in cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"_del_{c}"))
        out_parts.append(df.join(dels, cond).select("file_path", "pos"))
    if not out_parts:
        return None
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    # a row matched by several delete files/rows counts once
    return out.distinct()


class IcebergConversionSource:
    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        name: Optional[str] = None,
        expose_row_deletes: bool = False,
        emit_row_changes: bool = False,
        ref: Optional[str] = None,
        expose_equality_deletes: bool = False,
        expose_row_lineage: bool = False,
    ) -> None:
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.name = name or os.path.basename(self.base_path)
        # branch/tag to sync from (spec `refs`); None = the main head
        self.ref = ref
        # CDC channel: attach each snapshot's changelog-scan derivation
        # (read_iceberg_cdc) to the TableChange for CDF-capable targets
        self.emit_row_changes = emit_row_changes
        # When True, v2 position deletes are NOT rewritten into purged
        # shadows; data files stay at their original paths and per-file
        # delete sets ride on snapshot/change.row_deletes (only valid
        # when every target can express row-level deletes)
        self.expose_row_deletes = expose_row_deletes
        # bookmark tag (controller): purged shadows are named from each
        # file's own positions. A target synced under the earlier naming
        # (one id for the table's whole delete set, no tag) holds shadow
        # names this source cannot derive for the parent side of an
        # incremental diff, so the tag flip restates it FULL once.
        self.sync_view = None if expose_row_deletes else "purged-by-file-positions"
        # When True, content=2 EQUALITY deletes keep their shape: the
        # delete files + their equality columns and sequence numbers ride
        # the equality channel for targets that can re-register them
        # (Iceberg->Iceberg relays; ref keeps file content as-is).
        # Requires expose_row_deletes (mixing carried equality deletes
        # with purged position shadows would double-apply rows).
        if expose_equality_deletes and not expose_row_deletes:
            raise ValueError(
                "expose_equality_deletes requires expose_row_deletes"
            )
        self.expose_equality_deletes = expose_equality_deletes
        # Row-lineage channel: {path: first_row_id} (v3 Row Lineage) rides
        # on snapshot/change.row_lineage so lineage-capable targets (Delta
        # Row Tracking, another Iceberg v3 table) preserve stable row ids.
        # Incompatible with the purged-shadow delete path (shadows
        # renumber physical rows) — tables with applicable deletes need
        # expose_row_deletes too.
        self.expose_row_lineage = expose_row_lineage

    # -- table -------------------------------------------------------------

    def _meta(self) -> dict:
        meta = read_table_metadata(self.base_path)
        if meta is None:
            raise ValueError(f"not an iceberg table: {self.base_path}")
        return meta

    def _head_snapshot_id(self, meta: dict) -> Optional[int]:
        """The snapshot this source reads as "current": the named
        branch/tag head when ``ref`` is set (spec refs map), else
        current-snapshot-id."""
        if self.ref is not None:
            refs = meta.get("refs") or {}
            if self.ref not in refs:
                raise ValueError(
                    f"no branch/tag {self.ref!r} in {self.base_path} "
                    f"(refs: {sorted(refs)})"
                )
            return refs[self.ref]["snapshot-id"]
        return meta.get("current-snapshot-id")

    def get_current_table(self) -> InternalTable:
        meta = self._meta()
        schema_json = next(
            s for s in meta["schemas"] if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
        )
        schema = iceberg_fields_to_schema(schema_json["fields"])
        spec = next(
            s for s in meta["partition-specs"] if s.get("spec-id", 0) == meta.get("default-spec-id", 0)
        )
        from incubator_xtable_spark.functions.partition_transforms import from_iceberg_transform

        id_to_name = {f["id"]: f["name"] for f in schema_json["fields"]}
        part_fields = []
        for f in spec.get("fields", []):
            source_name = id_to_name.get(f.get("source-id"), f["name"])
            pf = from_iceberg_transform(f.get("transform", "identity"), source_name)
            pf.partition_field_name = f["name"]
            part_fields.append(pf)
        sort_order = self._default_sort_order(meta, schema_json)
        return InternalTable(
            name=self.name,
            table_format=TableFormat.ICEBERG,
            base_path=self.base_path,
            read_schema=schema,
            partition_fields=part_fields,
            layout_strategy=(
                DataLayoutStrategy.HIVE_STYLE_PARTITION
                if part_fields
                else DataLayoutStrategy.FLAT
            ),
            latest_commit_time_ms=meta.get("last-updated-ms"),
            latest_metadata_path=os.path.join(self.base_path, "metadata"),
            sort_order=sort_order,
        )

    def _default_sort_order(self, meta: dict, schema_json: dict) -> list:
        """The table's DEFAULT declared sort order (spec "Sort Orders")
        as InternalSortFields with source columns resolved by field id to
        dot paths — carried source -> target so a sorted table converts
        with its clustering contract intact (the reference drops it; ref
        iceberg/IcebergConversionSource.java builds no sort model).
        An unresolvable source-id drops the WHOLE order with a warning
        (a partial order is a different, wrong contract)."""
        from incubator_xtable_spark.model.core import InternalSortField

        so_id = meta.get("default-sort-order-id", 0)
        order = next(
            (s for s in meta.get("sort-orders", []) if s.get("order-id") == so_id),
            None,
        )
        if not order or not order.get("fields"):
            return []

        def _paths(fields: list, prefix: str = "") -> dict:
            out: dict = {}
            for f in fields:
                p = prefix + f["name"]
                out[f["id"]] = p
                t = f.get("type")
                if isinstance(t, dict) and t.get("type") == "struct":
                    out.update(_paths(t.get("fields", []), p + "."))
            return out

        by_id = _paths(schema_json.get("fields", []))
        out = []
        for f in order["fields"]:
            path = by_id.get(f.get("source-id"))
            if path is None:
                log.warning(
                    "sort order %s of %s references unknown source-id %s; "
                    "dropping the declared order",
                    so_id,
                    self.base_path,
                    f.get("source-id"),
                )
                return []
            out.append(
                InternalSortField(
                    source_field=path,
                    transform=f.get("transform", "identity"),
                    direction=f.get("direction", "asc"),
                    null_order=f.get("null-order", "nulls-first"),
                )
            )
        return out

    # -- v2 position + equality deletes -------------------------------------

    def _resolve_deletes(
        self, data_entries: list[dict], delete_entries: list[dict]
    ) -> dict[str, np.ndarray]:
        """Per affected data file: its deleted positions (sorted, unique)
        under the spec's sequence rules; outputs are named from them
        (`row_deletes.positions_id`), so a file's outputs keep their
        names until its own delete set changes. Position-delete parquets
        and Puffin deletion vectors are read on the driver, each file
        once; equality deletes lowered to positions come from
        `equality_positions_df`, the one data-sized scan."""
        data_seq = {e["data_file"]["file_path"]: e["sequence_number"] for e in data_entries}
        found: dict[str, list[np.ndarray]] = {}
        eq_entries = []
        for e in delete_entries:
            if is_equality_delete(e):
                eq_entries.append(e)
                continue
            for path, pos in delete_file_positions(e["data_file"]).items():
                if path in data_seq and position_delete_applies(e, data_seq[path]):
                    found.setdefault(path, []).append(pos)
        if eq_entries and data_entries:
            table = self.get_current_table()
            values = _identity_values(data_entries, _identity_columns(table)) or {}
            eq = equality_positions_df(
                self.spark,
                self._meta(),
                table,
                [equality_source(e) for e in eq_entries],
                {
                    path: (seq, _scope_key(e["data_file"].get("partition")), values.get(path, {}))
                    for e in data_entries
                    for path, seq in [(e["data_file"]["file_path"], e["sequence_number"])]
                },
            )
            if eq is not None:
                for path, pos in _positions_by_file(eq.toArrow()).items():
                    found.setdefault(path, []).append(pos)
        out = {}
        for path, parts in found.items():
            pos = np.unique(np.concatenate(parts))
            if len(pos):
                out[path] = pos
        return out

    def _write_shadows(self, resolved: dict, data_entries: list[dict]) -> None:
        """Purged shadow files for the data files with applicable deletes,
        through `row_deletes.write_purged_files` (no target format here
        can express row-level deletes without its own delete files, so
        conversion rewrites ONLY the affected files)."""
        from incubator_xtable_spark.sources.row_deletes import write_purged_files

        shadows = {p: shadow_path(p, positions_id(pos)) for p, pos in resolved.items()}
        todo = {p: sp for p, sp in shadows.items() if not os.path.exists(sp)}
        if not todo:
            return
        fmt_by_path = {
            e["data_file"]["file_path"]: e["data_file"].get("file_format")
            for e in data_entries
        }
        _ff.require_parquet(
            ((p, _ff.from_iceberg_manifest(fmt_by_path.get(p))) for p in todo),
            reader="iceberg delete-shadow purge",
        )
        write_purged_files(self.spark, [(p, resolved[p], sp) for p, sp in todo.items()])

    def _row_deletes_df(
        self, resolved: dict, data_entries: list[dict], table: InternalTable
    ):
        """COMPLETE current delete state (empty table = no deletes,
        never None — targets clear stale delete files/DVs for live data
        files absent from this restatement). Writes each affected file's
        positions parquet first, under the stem convention targets use
        for supersession."""
        from incubator_xtable_spark.model.core import ROW_DELETES_ARROW
        from incubator_xtable_spark.sources.row_deletes import positions_path, write_positions_file

        if not resolved:
            return ROW_DELETES_ARROW.empty_table()
        from incubator_xtable_spark.functions.partition_transforms import (
            from_iceberg_partition_value,
        )

        part_cols = [pf.output_name for pf in table.partition_fields]
        pf_by_name = {pf.output_name: pf for pf in table.partition_fields}
        # manifests hold spec-native values (int days/buckets/...);
        # convert to the engine's string convention like _to_inventory
        pv_by_path = {
            e["data_file"]["file_path"]: (
                {
                    c: from_iceberg_partition_value(
                        e["data_file"]["partition"].get(c), pf_by_name[c]
                    )
                    for c in part_cols
                }
                if part_cols
                else None
            )
            for e in data_entries
        }
        rows = []
        for p, pos in resolved.items():
            out = positions_path(p, positions_id(pos))
            if not os.path.exists(out):
                write_positions_file(p, pos, out)
            rows.append((p, out, len(pos), pv_by_path.get(p)))
        return arrow_table(rows, ROW_DELETES_ARROW)

    def _equality_channel(
        self, data_entries: list[dict], eq_entries: list[dict], table
    ) -> dict:
        """The equality-delete channel payload: the content=2 delete files
        as-is (path, equality COLUMN NAMES, sequence number, partition)
        plus every live data file's sequence number — the ordering a
        target must preserve for the strict `delete_seq > data_seq` rule
        to keep meaning the same thing after the relay. Metadata-sized."""
        from incubator_xtable_spark.functions.partition_transforms import (
            from_iceberg_partition_value,
        )

        pf_by_name = {pf.output_name: pf for pf in table.partition_fields}
        files = []
        for e in eq_entries:
            df = e["data_file"]
            ids = df.get("equality_ids") or []
            if not ids:
                raise ValueError(
                    f"equality delete file {df['file_path']} has no equality_ids"
                )
            cols = [f.name for f in equality_fields(table.read_schema, ids)]
            # spec-native manifest partition values -> the engine's
            # serialized strings (the same conversion the inventory uses),
            # so targets re-serialize transform-aware; {} = global delete
            raw_part = df.get("partition") or {}
            # 'key present with null value' is a partition-scoped delete on
            # the null partition — distinct from 'key absent' (a global
            # delete written under an unpartitioned spec); dropping nulls
            # here misclassified it as global (ADVICE r8)
            part = {
                c: from_iceberg_partition_value(raw_part.get(c), pf_by_name[c])
                for c in pf_by_name
                if c in raw_part
            }
            files.append(
                {
                    "file_path": df["file_path"],
                    "file_format": str(df.get("file_format") or "PARQUET").upper(),
                    "file_size": int(df.get("file_size_in_bytes") or 0),
                    "record_count": int(df.get("record_count") or 0),
                    "sequence_number": e["sequence_number"],
                    "equality_columns": cols,
                    "partition": part,
                }
            )
        return {
            "files": files,
            "data_sequences": {
                e["data_file"]["file_path"]: e["sequence_number"]
                for e in data_entries
            },
        }

    def _lineage_map(self, entries: list[dict]) -> dict:
        """Data entries -> {file_path: first_row_id} for the row-lineage
        channel; refuses when any live data file lacks an id (not a v3
        row-lineage table — inheritance was already materialized by
        model/iceberg_manifests, so null here means genuinely unassigned)."""
        out: dict = {}
        missing = []
        for e in entries:
            df = e["data_file"]
            fid = df.get("first_row_id")
            if fid is None:
                missing.append(df["file_path"])
            else:
                out[df["file_path"]] = int(fid)
        if missing:
            raise ValueError(
                f"expose_row_lineage: {len(missing)} data file(s) carry no "
                f"first_row_id (not a v3 row-lineage table?), e.g. {missing[:3]}"
            )
        return out

    def get_current_snapshot(self) -> InternalSnapshot:
        meta = self._meta()
        table = self.get_current_table()
        snapshot_id = self._head_snapshot_id(meta)
        entries, deletes = live_entries(meta, snapshot_id)
        eq_entries: list[dict] = []
        if self.expose_equality_deletes:
            eq_entries = [e for e in deletes if is_equality_delete(e)]
            deletes = [e for e in deletes if not is_equality_delete(e)]
        resolved = self._resolve_deletes(entries, deletes)
        if (resolved or self.expose_equality_deletes) and self.expose_row_deletes:
            return InternalSnapshot(
                table=table,
                version=str(snapshot_id),
                files=self._to_inventory(entries, table, None),
                row_deletes=self._row_deletes_df(resolved, entries, table),
                equality_deletes=(
                    self._equality_channel(entries, eq_entries, table)
                    if self.expose_equality_deletes
                    else None
                ),
                row_lineage=self._lineage_map(entries)
                if self.expose_row_lineage
                else None,
            )
        if resolved and self.expose_row_lineage:
            raise ValueError(
                "expose_row_lineage with applicable deletes requires "
                "expose_row_deletes=True: the purged-shadow rewrite renumbers "
                "physical rows, so first_row_id-derived ids cannot survive it"
            )
        self._write_shadows(resolved, entries)
        return InternalSnapshot(
            table=table,
            version=str(snapshot_id),
            files=self._to_inventory(entries, table, resolved),
            row_lineage=self._lineage_map(entries) if self.expose_row_lineage else None,
        )

    def _to_inventory(
        self, entries: list[dict], table: InternalTable, resolved: Optional[dict] = None
    ) -> pa.Table:
        """Data entries -> inventory table; with ``resolved``
        (`_resolve_deletes`), each affected file is listed as its purged
        shadow."""
        if not entries:
            return FILE_INVENTORY_ARROW.empty_table()
        from incubator_xtable_spark.model.iceberg_values import from_iceberg_bytes
        from incubator_xtable_spark.model.stat_codec import encode_stat

        part_cols = [pf.output_name for pf in table.partition_fields]
        id_to_field = {
            (f.metadata or {}).get("xtable.fieldId"): f for f in table.read_schema.fields
        }

        def bounds_map(raw_entries) -> dict[int, bytes]:
            return {kv["key"]: kv["value"] for kv in raw_entries or []}

        from incubator_xtable_spark.functions.partition_transforms import (
            from_iceberg_partition_value,
        )

        pf_by_name = {pf.output_name: pf for pf in table.partition_fields}
        rows, shadow_rows = [], []
        for e in entries:
            df = e["data_file"]
            # spec-native manifest values (int days/months/... for time
            # transforms) convert back to the engine's partition strings
            pv = (
                {
                    c: from_iceberg_partition_value(df["partition"].get(c), pf_by_name[c])
                    for c in part_cols
                }
                if part_cols
                else None
            )
            lower = bounds_map(df.get("lower_bounds"))
            upper = bounds_map(df.get("upper_bounds"))
            nulls = {kv["key"]: int(kv["value"]) for kv in (df.get("null_value_counts") or [])}
            col_stats = {}
            for fid in set(lower) | set(upper) | set(nulls):
                f = id_to_field.get(fid)
                if f is None:
                    continue
                col_stats[f.name] = {
                    "min_json": encode_stat(from_iceberg_bytes(lower.get(fid), f.dataType), f.dataType),
                    "max_json": encode_stat(from_iceberg_bytes(upper.get(fid), f.dataType), f.dataType),
                    "null_count": nulls.get(fid),
                }
            deleted = (resolved or {}).get(df["file_path"])
            if deleted is not None:
                # position deletes apply: expose the purged shadow with
                # corrected row count; stats recomputed from its footer
                sp = shadow_path(df["file_path"], positions_id(deleted))
                size = (
                    int(os.path.getsize(sp))
                    if os.path.exists(sp)
                    else int(df["file_size_in_bytes"])
                )
                shadow_rows.append(
                    {
                        "physical_path": sp,
                        "file_format": "PARQUET",  # purged shadows are engine-written parquet
                        "size_bytes": size,
                        "record_count": int(df["record_count"]) - len(deleted),
                        "partition_values": pv,
                    }
                )
            else:
                rows.append(
                    (
                        df["file_path"],
                        # manifest spelling (PARQUET/ORC/AVRO) -> engine tag;
                        # unknown formats refuse loudly instead of mis-tagging
                        _ff.from_iceberg_manifest(df["file_format"]),
                        int(df["file_size_in_bytes"]),
                        int(df["record_count"]),
                        None,
                        pv,
                        col_stats or None,
                    )
                )
        if shadow_rows:
            from incubator_xtable_spark.sources.parquet_source import data_schema, footer_stat_rows

            # only footer-read shadows that exist on disk (a removed-side
            # inventory may reference shadows from an earlier sync run)
            stats = {
                p: (rc, cs)
                for p, rc, cs in footer_stat_rows(
                    [r["physical_path"] for r in shadow_rows if os.path.exists(r["physical_path"])],
                    data_schema(table),
                )
            }
            for r in shadow_rows:
                rc, r["column_stats"] = stats.get(r["physical_path"], (None, None))
                if rc is not None:
                    r["record_count"] = rc
        return arrow_table(rows + shadow_rows, FILE_INVENTORY_ARROW)

    # -- commits -----------------------------------------------------------

    def get_commits_backlog(self, instants: InstantsForIncrementalSync) -> CommitsBacklog:
        """Walk the parent chain back to the last-synced snapshot, reverse
        (IcebergConversionSource.java:235-261)."""
        meta = self._meta()
        last = int(instants.last_sync_instant) if instants.last_sync_instant.isdigit() else None
        chain: list[str] = []
        cur = snapshot_by_id(meta, self._head_snapshot_id(meta))
        while cur is not None and cur["snapshot-id"] != last:
            chain.append(str(cur["snapshot-id"]))
            parent = cur.get("parent-snapshot-id")
            cur = snapshot_by_id(meta, parent) if parent is not None else None
        return CommitsBacklog(commits_to_process=list(reversed(chain)))

    def is_incremental_sync_safe_from(self, instant: str) -> bool:
        """Safe iff the chain from current back to the instant is intact
        (a missing parent means snapshots were expired)."""
        meta = self._meta()
        if not instant.isdigit():
            return False
        target = int(instant)
        cur = snapshot_by_id(meta, self._head_snapshot_id(meta))
        while cur is not None:
            if cur["snapshot-id"] == target:
                return True
            parent = cur.get("parent-snapshot-id")
            if parent is None:
                return False
            cur = snapshot_by_id(meta, parent)
        return False

    def get_table_change_for_commit(self, commit: str) -> TableChange:
        change = self._table_change_impl(commit)
        if self.emit_row_changes:
            change.row_changes = read_iceberg_cdc(
                self.spark, self.base_path, int(commit)
            ).drop("_commit_snapshot_id")
        return change

    def _table_change_impl(self, commit: str) -> TableChange:
        """added/removed files = set difference against the parent
        snapshot (snapshot.addedDataFiles/removedDataFiles equivalent),
        keyed by EFFECTIVE path: a data file whose applicable position-
        delete set changed swaps its previous shadow for the new one, so
        targets stay row-accurate (same posture as the Delta DV diff)."""
        meta = self._meta()
        table = self.get_current_table()
        snapshot_id = int(commit)
        snap = snapshot_by_id(meta, snapshot_id)

        if self.expose_row_deletes:
            # raw-path diff; the commit's full applicable delete map rides
            # on row_deletes (targets supersede by stem, so re-stating an
            # unchanged set is a no-op and a changed set swaps files)
            cur_data, cur_dels = live_entries(meta, snapshot_id)
            eq_entries: list[dict] = []
            if self.expose_equality_deletes:
                eq_entries = [e for e in cur_dels if is_equality_delete(e)]
                cur_dels = [e for e in cur_dels if not is_equality_delete(e)]
            parent = snap.get("parent-snapshot-id") if snap else None
            prev_data, _ = (
                live_entries(meta, parent) if parent is not None else ([], [])
            )
            cur_paths = {e["data_file"]["file_path"] for e in cur_data}
            prev_paths = {e["data_file"]["file_path"] for e in prev_data}
            added = [e for e in cur_data if e["data_file"]["file_path"] not in prev_paths]
            removed = [e for e in prev_data if e["data_file"]["file_path"] not in cur_paths]
            resolved = self._resolve_deletes(cur_data, cur_dels)
            return TableChange(
                table=table,
                commit_id=commit,
                files_added=self._to_inventory(added, table, None),
                files_removed=self._to_inventory(removed, table, None),
                row_deletes=self._row_deletes_df(resolved, cur_data, table),
                equality_deletes=(
                    self._equality_channel(cur_data, eq_entries, table)
                    if self.expose_equality_deletes
                    else None
                ),
                row_lineage=self._lineage_map(added)
                if self.expose_row_lineage
                else None,
            )

        def eff_view(sid: Optional[int], materialize: bool):
            if sid is None:
                return {}, {}
            data, dels = live_entries(meta, sid)
            resolved = self._resolve_deletes(data, dels)
            if materialize:
                self._write_shadows(resolved, data)
            eff = {}
            for e in data:
                p = e["data_file"]["file_path"]
                eff[shadow_path(p, positions_id(resolved[p])) if p in resolved else p] = e
            return eff, resolved

        cur_eff, cur_resolved = eff_view(snapshot_id, materialize=True)
        parent = snap.get("parent-snapshot-id") if snap else None
        prev_eff, prev_resolved = eff_view(parent, materialize=False)

        added = [e for p, e in cur_eff.items() if p not in prev_eff]
        removed = [e for p, e in prev_eff.items() if p not in cur_eff]
        if self.expose_row_lineage and (cur_resolved or prev_resolved):
            raise ValueError(
                "expose_row_lineage with applicable deletes requires "
                "expose_row_deletes=True: the purged-shadow rewrite renumbers "
                "physical rows, so first_row_id-derived ids cannot survive it"
            )
        return TableChange(
            table=table,
            commit_id=commit,
            files_added=self._to_inventory(added, table, cur_resolved),
            files_removed=self._to_inventory(removed, table, prev_resolved),
            row_lineage=self._lineage_map(added) if self.expose_row_lineage else None,
        )

    def get_commit_identifier(self, commit: str) -> str:
        return commit

    def get_sync_metadata(self) -> Optional[TableSyncMetadata]:
        meta = self._meta()
        raw = (meta.get("properties") or {}).get(XTABLE_METADATA_KEY)
        return TableSyncMetadata.from_json(raw) if raw else None


def _name_mapped_fields(
    meta: dict, fields, footer_cols: set
) -> tuple["T.StructType", dict[str, str]]:
    """schema.name-mapping.default resolution against ONE footer's
    column-name set: (read struct in the names the files store,
    stored->logical renames)."""
    nm_raw = (meta.get("properties") or {}).get("schema.name-mapping.default")
    if not nm_raw:
        return T.StructType(list(fields)), {}
    names_by_id = {m.get("field-id"): m.get("names") or [] for m in json.loads(nm_raw)}
    mapped, renames = [], {}
    for f in fields:
        fid = (f.metadata or {}).get("xtable.fieldId")
        candidates = names_by_id.get(fid, [])
        stored = next(
            (n for n in candidates if n in footer_cols),
            f.name if f.name in footer_cols else None,
        )
        if stored is not None and stored != f.name:
            renames[stored] = f.name
            mapped.append(T.StructField(stored, f.dataType, f.nullable))
        else:
            mapped.append(f)
    return T.StructType(mapped), renames


def _footer_column_groups(paths: list[str]) -> dict[tuple, list[str]]:
    """Group files by (footer column-name set, carries-parquet-field-ids),
    reading each footer's schema on the driver (a few KB per file, the
    parquet_source posture)."""
    import pyarrow.parquet as _pq

    groups: dict[tuple, list[str]] = {}
    for p in paths:
        sch = _pq.read_schema(p)
        has_ids = any(f.metadata and b"PARQUET:field_id" in f.metadata for f in sch)
        groups.setdefault((frozenset(sch.names), has_ids), []).append(p)
    return groups


def _with_parquet_field_ids(dt: "T.DataType"):
    """Attach parquet.field.id metadata (from canonical xtable.fieldId)
    so Spark's field-id matching resolves columns BY ID — the Iceberg
    spec's primary column-resolution rule for files that store field
    ids. Returns (annotated type, all-ids-present)."""
    complete = True

    def visit_type(t):
        nonlocal complete
        if isinstance(t, T.StructType):
            out = []
            for f in t.fields:
                fid = (f.metadata or {}).get("xtable.fieldId")
                meta = dict(f.metadata or {})
                if fid is None:
                    complete = False
                else:
                    meta["parquet.field.id"] = int(fid)
                out.append(T.StructField(f.name, visit_type(f.dataType), f.nullable, meta))
            return T.StructType(out)
        if isinstance(t, T.ArrayType):
            return T.ArrayType(visit_type(t.elementType), t.containsNull)
        if isinstance(t, T.MapType):
            return T.MapType(visit_type(t.keyType), visit_type(t.valueType), t.valueContainsNull)
        return t

    annotated = visit_type(dt)
    return annotated, complete


def _scan_groups(
    meta: dict,
    fields: T.StructType,
    pq_paths: list[str],
    orc_paths: list[str] = (),
    avro_paths: list[str] = (),
) -> list[ScanGroup]:
    """The `file_scan` groups that present the LOGICAL columns of
    ``fields``, parquet files resolved PER DISTINCT FOOTER SCHEMA (one
    driver-side footer pass):

    - files that STORE PARQUET FIELD IDS resolve by id (the Iceberg
      spec's primary rule) via Spark's native field-id matching, with
      ignoreMissing semantics so a column added after the file was
      written reads as null — renamed columns in foreign tables resolve
      correctly regardless of stored names;
    - id-less files resolve through schema.name-mapping.default (the
      spec's fallback for exactly those files), each footer group with
      its OWN resolution — a group mixing provenances (logical names
      alongside physical/storage names) never silently nulls (ADVICE
      r5).

    ORC and AVRO files project ``fields`` by name."""
    footer_groups = (
        _footer_column_groups(pq_paths) if fields else {(frozenset(), False): list(pq_paths)}
    )
    groups = []
    for (footer_cols, has_ids), paths in footer_groups.items():
        renames: dict[str, str] = {}
        mapped = None
        if has_ids:
            annotated, complete = _with_parquet_field_ids(fields)
            if complete:
                mapped = annotated
        if mapped is None:
            mapped, renames = _name_mapped_fields(meta, fields, set(footer_cols))
        groups.append(ScanGroup(_ff.PARQUET, paths, mapped, renames))
    return groups + [
        ScanGroup(_ff.APACHE_ORC, list(orc_paths), fields),
        ScanGroup(_ff.APACHE_AVRO, list(avro_paths), fields),
    ]


def _identity_columns(table: InternalTable) -> set[str]:
    """The IDENTITY partition columns: absent from the data files, they
    re-attach from manifest values (non-identity transforms such as
    day/bucket derive from source columns the files keep)."""
    from incubator_xtable_spark.model.core import PartitionTransformType

    return {
        pf.source_field
        for pf in table.partition_fields
        if pf.transform == PartitionTransformType.VALUE
    }


def _identity_values(entries: list[dict], part_cols: set[str]) -> Optional[dict[str, dict]]:
    """{data file path: {identity partition column: manifest value}}."""
    if not part_cols:
        return None
    return {
        e["data_file"]["file_path"]: {c: e["data_file"]["partition"].get(c) for c in part_cols}
        for e in entries
    }


def _prune_iceberg_entries(
    entries: list[dict], table, prune: dict
) -> list[dict]:
    """Data skipping over manifest DATA entries: keep a file unless its
    lower/upper bounds (single-value serialized, keyed by FIELD ID)
    provably exclude a requested inclusive range. Entries lacking bounds
    for a predicate column always keep. Deletes only REMOVE rows, so
    pruning data files composes with delete application."""
    from incubator_xtable_spark.model.iceberg_values import from_iceberg_bytes
    from incubator_xtable_spark.model.stat_codec import stat_range_keeps

    fid_dtype = {}
    for f in table.read_schema.fields:
        fid = (f.metadata or {}).get("xtable.fieldId")
        if fid is not None and f.name in prune:
            fid_dtype[f.name] = (fid, f.dataType)
    if not fid_dtype:
        return entries

    def _bounds(raw_entries) -> dict[int, bytes]:
        return {kv["key"]: kv["value"] for kv in raw_entries or []}

    kept = []
    for e in entries:
        dfile = e["data_file"]
        lower = _bounds(dfile.get("lower_bounds"))
        upper = _bounds(dfile.get("upper_bounds"))
        keep = True
        for col, (fid, dtype) in fid_dtype.items():
            lo, hi = prune[col]
            mn = from_iceberg_bytes(lower.get(fid), dtype) if fid in lower else None
            mx = from_iceberg_bytes(upper.get(fid), dtype) if fid in upper else None
            if not stat_range_keeps(mn, mx, lo, hi):
                keep = False
                break
        if keep:
            kept.append(e)
    return kept


def read_iceberg_as_df(
    spark: SparkSession,
    base_path: str,
    snapshot_id: Optional[int] = None,
    ref: Optional[str] = None,
    prune: Optional[dict] = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Snapshot read (time travel via snapshot_id, or a branch/tag name
    via ref — spec `refs`): the engine's `spark.read.format("iceberg")`
    equivalent for our subset.

    ``prune`` ({column: (lower, upper)}, inclusive, None = unbounded):
    plan-time data skipping from the manifests' own lower/upper bounds —
    files whose bounds provably exclude every requested range drop
    before any footer opens. Safe: files without bounds keep; apply the
    real row filter on the result.

    ``with_row_ids``: on a v3 row-lineage table, append ``_row_id`` =
    data file ``first_row_id`` + physical row position (the spec's row
    lineage derivation; inherited manifest ids are materialized by
    `model/iceberg_manifests`). Stable across commits, rewrites and
    deletes — the Iceberg twin of read_delta_as_df's Row Tracking
    reads. Parquet-only (positions key on the parquet row index)."""
    src = IcebergConversionSource(spark, base_path, ref=ref)
    meta = src._meta()
    table = src.get_current_table()
    sid = snapshot_id if snapshot_id is not None else src._head_snapshot_id(meta)
    # schema-aware time travel: a snapshot written under an OLDER schema
    # reads with THAT schema (spec: snapshots record their schema-id and
    # `schemas` keeps the history) — columns added later don't appear,
    # columns since dropped come back
    snap_meta = snapshot_by_id(meta, sid)
    snap_schema_id = (snap_meta or {}).get("schema-id")
    if snap_schema_id is not None and snap_schema_id != meta.get("current-schema-id"):
        hist = next(
            (s for s in meta.get("schemas", []) if s.get("schema-id") == snap_schema_id),
            None,
        )
        if hist is not None:
            from dataclasses import replace as _dc_replace

            from incubator_xtable_spark.targets.iceberg_target import (
                iceberg_fields_to_schema,
            )

            table = _dc_replace(
                table, read_schema=iceberg_fields_to_schema(hist["fields"])
            )
    entries, delete_entries = live_entries(meta, sid)
    if prune and entries:
        entries = _prune_iceberg_entries(entries, table, prune)
    if not entries:
        return spark.createDataFrame([], table.read_schema)
    # ORC row-reads via Spark's native scan, AVRO via the engine's
    # distributed OCF decoder (r8) — both only while no row-level deletes
    # are in force (delete application keys on parquet row indexes)
    pq_paths, orc_paths, avro_paths = _ff.split_readable(
        (
            (e["data_file"]["file_path"], _ff.from_iceberg_manifest(e["data_file"].get("file_format")))
            for e in entries
        ),
        reader="read_iceberg_as_df",
    )
    if (orc_paths or avro_paths) and delete_entries:
        raise NotImplementedError(
            "read_iceberg_as_df: row-level deletes with ORC/AVRO data files "
            "are not supported (delete application keys on parquet row indexes)"
        )
    if with_row_ids:
        if orc_paths or avro_paths:
            raise NotImplementedError(
                "with_row_ids is parquet-only (row ids key on _metadata.row_index)"
            )
        no_id = [
            e["data_file"]["file_path"]
            for e in entries
            if e["data_file"].get("first_row_id") is None
        ]
        if no_id:
            raise ValueError(
                f"with_row_ids: {len(no_id)} data file(s) carry no first_row_id "
                f"(not a v3 row-lineage table?), e.g. {no_id[:3]}"
            )
    part_cols = _identity_columns(table)
    data_fields = T.StructType([f for f in table.read_schema.fields if f.name not in part_cols])
    return scan_files(
        spark,
        _scan_groups(meta, data_fields, pq_paths, orc_paths, avro_paths),
        table.read_schema.fields,
        partition_values=_identity_values(entries, part_cols),
        positions=list(src._resolve_deletes(entries, delete_entries).items()),
        row_ids=(
            {e["data_file"]["file_path"]: int(e["data_file"]["first_row_id"]) for e in entries}
            if with_row_ids
            else None
        ),
    )


def plan_changes(base_path: str, snapshot_id: int) -> ChangePlan:
    """The row changes of ONE snapshot against its parent
    (`change_plan.ChangePlan`; no SparkSession), the changelog-scan
    semantics (Iceberg logs no explicit change files):

    - data files added by the snapshot -> inserts of their visible rows
      (the snapshot's applicable deletes dropped);
    - data files removed -> deletes of the rows that were visible under
      the PARENT's delete state;
    - carried files whose applicable delete set changed -> a position
      diff: deletes of newly covered rows, inserts of restored ones.

    Which delete files apply to which data file is decided here, by
    `position_delete_applies` and `equality_delete_applies`; position
    deletes are sources (`delete_file_positions` reads them), equality
    deletes are `equality_source` descriptors that the batch reader
    resolves by a Spark join and the stream by a value match. Identity
    partition values come from the manifest; columns resolve through
    `_scan_groups` (field ids, else the name mapping). Refuses a snapshot
    whose parent has expired and a touched data file that is not
    parquet; a `replace` snapshot (compaction) plans no changes."""
    return _plan_changes(base_path, snapshot_id)[0]


def _plan_changes(base_path: str, snapshot_id: int) -> tuple[ChangePlan, dict, InternalTable]:
    """`plan_changes`, with the table metadata and table it planned
    against (the batch reader's equality lowering needs both)."""
    src = IcebergConversionSource(None, base_path)
    meta = src._meta()
    table = src.get_current_table()
    snap = snapshot_by_id(meta, snapshot_id)
    if snap is None:
        raise ValueError(f"no snapshot {snapshot_id} in {base_path}")
    schema = table.read_schema
    if (snap.get("summary") or {}).get("operation") == "replace":
        # spec: replace snapshots (compaction/rewrites) change the file
        # layout, never the logical rows — the changelog scan skips them
        return ChangePlan(schema, [], [], None), meta, table
    parent = snap.get("parent-snapshot-id")
    if parent is not None and snapshot_by_id(meta, parent) is None:
        # an expired parent would silently turn the whole table into
        # "inserts" — refuse instead (same contract as an expired cursor)
        raise ValueError(
            f"snapshot {snapshot_id}'s parent {parent} has been expired; "
            "its changelog can no longer be derived"
        )
    cur_data, cur_dels = live_entries(meta, snapshot_id)
    prev_data, prev_dels = live_entries(meta, parent) if parent is not None else ([], [])
    identity = _identity_columns(table)

    def sources(deletes: list[dict], e: dict) -> tuple:
        path, seq = e["data_file"]["file_path"], e["sequence_number"]
        part = e["data_file"].get("partition")
        out = []
        for d in deletes:
            if is_equality_delete(d):
                if equality_delete_applies(d, seq, part):
                    out.append(dict(equality_source(d), data_seq=seq, data_scope=_scope_key(part)))
            elif position_delete_applies(d, seq) and dv_reference(d["data_file"]) in (None, path):
                out.append(
                    {"kind": "iceberg_position", "file": {k: d["data_file"].get(k) for k in _POSITION_FILE_KEYS}}
                )
        return tuple(out)

    def change_file(e: dict, change, drop: tuple, restore=None) -> ChangeFile:
        df = e["data_file"]
        part = df.get("partition") or {}
        return ChangeFile(
            df["file_path"],
            _ff.from_iceberg_manifest(df.get("file_format")),
            change,
            {c: None if part.get(c) is None else str(part.get(c)) for c in identity},
            drop,
            restore,
        )

    cur_by_path = {e["data_file"]["file_path"]: e for e in cur_data}
    prev_by_path = {e["data_file"]["file_path"]: e for e in prev_data}
    files = [change_file(e, "insert", sources(cur_dels, e)) for p, e in cur_by_path.items() if p not in prev_by_path]
    for p, e in prev_by_path.items():
        if p not in cur_by_path:
            files.append(change_file(e, "delete", sources(prev_dels, e)))
        else:
            now, before = sources(cur_dels, cur_by_path[p]), sources(prev_dels, e)
            if now != before:
                files.append(change_file(cur_by_path[p], None, now, before))
    _ff.require_parquet(((f.path, f.fmt) for f in files), reader="iceberg change read")
    data_fields = T.StructType([f for f in schema.fields if f.name not in identity])
    return ChangePlan(schema, files, _scan_groups(meta, data_fields, [f.path for f in files]), None), meta, table


def read_iceberg_cdc(spark: SparkSession, base_path: str, snapshot_id: int) -> DataFrame:
    """Row-level changes of ONE snapshot as a CDC-shaped DataFrame: the
    row columns plus `_change_type` (insert / delete) and
    `_commit_snapshot_id` — the Iceberg member of the CDC-read family
    (read_delta_cdf / read_hudi_cdc / read_paimon_changelog), reading the
    rows `plan_changes` plans.

    Iceberg expresses updates as delete+insert pairs, so `update_*`
    change types never occur here — consumers treat a same-key
    delete+insert in one snapshot as an update if they key the stream.

    Scale: scans only the files the snapshot touched; position deletes
    resolve and diff on the driver (each delete file read once), lowered
    equality deletes by one Spark join per side, and no data row reaches
    the driver."""
    plan, meta, table = _plan_changes(base_path, snapshot_id)
    values = {f.path: f.partition_values for f in plan.files}
    cache: dict = {}

    def resolve(pairs: list) -> dict:
        """Positions of position sources, plus equality deletes lowered
        by `equality_positions_df` (each call is one side of the commit,
        so the sequence rule sees one snapshot's delete set)."""
        out = read_positions(pairs, cache)
        eq = {
            path: [s for s in sources if s["kind"] == "equality"] for path, sources in pairs
        }
        eq = {path: found for path, found in eq.items() if found}
        if eq:
            lowered = equality_positions_df(
                spark,
                meta,
                table,
                [s for found in eq.values() for s in found],
                {path: (found[0]["data_seq"], found[0]["data_scope"], values[path]) for path, found in eq.items()},
            )
            if lowered is not None:
                for path, pos in _positions_by_file(lowered.toArrow()).items():
                    out[path] = np.union1d(out.get(path, np.empty(0, np.int64)), pos)
        return out

    return read_changes(
        spark, plan, T.StructField("_commit_snapshot_id", T.LongType()), snapshot_id, resolve
    )


def snapshot_data_bytes(snapshot: dict) -> int:
    """Planned data bytes of one snapshot from its summary
    (added-files-size + removed-files-size, the standard Iceberg summary
    keys — the engine's own target writes them). Snapshots without size
    summaries count 0 (best-effort pacing)."""
    summary = snapshot.get("summary") or {}
    total = 0
    for key in ("added-files-size", "removed-files-size"):
        try:
            total += int(summary.get(key) or 0)
        except (TypeError, ValueError):
            pass
    return total
