"""Delta Lake conversion target: commits file-level metadata into a Delta
transaction log (`_delta_log/`) following the PUBLIC Delta protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md): one JSON
action per line, versioned files ``%020d.json``, atomic put-if-absent
commits.

Reference parity (what, not how — our implementation is protocol-level
because this environment has no delta-spark jars):
- target txn + metaData write      delta/DeltaConversionTarget.java:158-372
- AddFile building + snapshot-as-diff
                                   delta/DeltaDataFileUpdatesExtractor.java:65-129
- stats serialization              delta/DeltaStatsUtils.java:96-124
- XTABLE_METADATA bookmark in table properties
                                   model/metadata/TableSyncMetadata.java:43-58

Scale notes: the transaction log is inherently a driver-written artifact
(single file per commit). The source hands over its snapshot or change
as driver-held Arrow tables; this target reads their rows and diffs a
snapshot against the log replay's live adds with ``model.files_diff``
(no Spark job either way). The commit's other log-side files —
checkpoints, `.crc` checksums, DV files from row deletes — are written
on the driver too. Only the CDC rows of ``sync_row_changes`` are written
with Spark; any other commit runs no Spark job and sends py4j nothing.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_xtable_spark.model.core import (
    InternalSnapshot,
    InternalTable,
    TableChange,
    table_rows,
)
from incubator_xtable_spark.model.files_diff import files_diff, relativize
from incubator_xtable_spark.model.hive_partitions import partition_values
from incubator_xtable_spark.model.stat_codec import to_delta_stats_json
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata, XTABLE_METADATA_KEY

MIN_READER_VERSION = 1
MIN_WRITER_VERSION = 2


def _log_dir(base_path: str) -> str:
    return os.path.join(base_path, "_delta_log")


def _version_file(base_path: str, version: int) -> str:
    return os.path.join(_log_dir(base_path), f"{version:020d}.json")


def read_version_checksum(base_path: str, version: int) -> Optional[dict]:
    """Read ``_delta_log/<version>.crc`` (delta-spark's VersionChecksum
    sidecar); None when absent or unparseable (a torn checksum must never
    fail a commit — readers treat it as advisory state)."""
    path = os.path.join(_log_dir(base_path), f"{version:020d}.crc")
    if not os.path.exists(path):
        return None
    try:
        with open(path, encoding="utf-8") as fh:
            return json.loads(fh.read())
    except (OSError, json.JSONDecodeError):
        return None


def current_log_version(base_path: str) -> Optional[int]:
    d = _log_dir(base_path)
    if not os.path.isdir(d):
        return None
    versions = [
        int(fn[:-5])
        for fn in os.listdir(d)
        if fn.endswith(".json") and fn[:-5].isdigit()
    ]
    return max(versions) if versions else None


class DeltaConversionTarget:
    """ConversionTarget (spi/sync/ConversionTarget.java:37-104 surface):
    beginSync -> syncSchema/syncPartitionSpec/syncMetadata ->
    syncFilesForSnapshot | syncFilesForDiff -> completeSync."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        checkpoint_interval: int = 10,
        compaction_interval: int = 0,
        checkpoint_layout: str = "classic",
        change_feed: bool = False,
        in_commit_timestamps: bool = False,
        row_tracking: bool = False,
        clustering_columns: Optional[list[str]] = None,
        version_checksum: bool = False,
    ) -> None:
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        # spec checkpoints every N commits (delta's own default is 10);
        # 0 disables
        self.checkpoint_interval = checkpoint_interval
        # "classic" = single <v>.checkpoint.parquet; "multipart" = the
        # spec's legacy v1 multi-part fragments
        # (<v>.checkpoint.<i>.<n>.parquet + _last_checkpoint.parts) —
        # no table feature required; "v2" = UUID top-level + sidecar
        # parquets (PROTOCOL.md V2 Checkpoints — requires and
        # auto-declares the v2Checkpoint reader/writer table feature).
        # multipart and v2 bound each file at 500k actions; every layout
        # is written on the driver (delta_source.write_checkpoint).
        if checkpoint_layout not in ("classic", "multipart", "v2"):
            raise ValueError(f"unsupported checkpoint_layout: {checkpoint_layout}")
        self.checkpoint_layout = checkpoint_layout
        # Change Data Feed: when True, incremental row changes arriving on
        # the CDC channel (TableChange.row_changes) persist as cdc actions
        # + _change_data parquet, and the table declares
        # delta.enableChangeDataFeed (writer protocol 4) so CDF consumers
        # read exact row-level changes instead of file-level derivation
        self.change_feed = change_feed
        # minor log compaction every N commits (<s>.<e>.compacted.json,
        # see sync/retention.delta_compact_log): keeps JSON-tail listing
        # bounded between checkpoints on commit-heavy tables; 0 disables
        self.compaction_interval = compaction_interval
        # In-Commit Timestamps (PROTOCOL.md, writer feature
        # `inCommitTimestamp`): commitInfo becomes the commit's FIRST
        # action and carries a strictly monotonically increasing
        # inCommitTimestamp, making timestamp time travel immune to
        # log-file mtime drift (copies, backfills, filesystem moves).
        # Enabling mid-table records delta.inCommitTimestampEnablementVersion
        # / ...EnablementTimestamp so readers know where the authority
        # switches from file mtime to ICT. Once enabled it stays enabled
        # (the engine never demotes table features).
        self.in_commit_timestamps = in_commit_timestamps
        # Row Tracking (PROTOCOL.md, writer feature `rowTracking` — which
        # itself requires domainMetadata): every add carries baseRowId +
        # defaultRowCommitVersion; fresh ranges are handed out from the
        # delta.rowTracking domain's rowIdHighWaterMark so they never
        # overlap; a re-add (DV update) keeps its original values, making
        # row ids (baseRowId + physical position) stable across rewrites.
        # Supported from table creation only — enabling mid-table would
        # need a backfill of every live add (refused loudly instead).
        self.row_tracking = row_tracking
        # Clustered table (PROTOCOL.md "Clustered Table", writer feature
        # `clustering`): the clustering column set lives in the
        # delta.clustering metadata domain as {"clusteringColumns":
        # [[<physical name path>], ...]}. The engine records the layout
        # INTENT (so downstream OPTIMIZE/Z-order maintenance and readers
        # see the declared clustering); it does not rewrite data files —
        # conversion is metadata-only by design.
        self.clustering_columns = list(clustering_columns or [])
        # Version checksum sidecars (<version>.crc next to <version>.json):
        # the post-commit state summary delta-spark emits — tableSizeBytes /
        # numFiles / the commit's effective protocol + metaData — letting a
        # reader cross-check a snapshot without replaying file actions.
        # Computed INCREMENTALLY from the previous checksum plus this
        # commit's add/remove byte deltas (remove actions then carry the
        # spec-optional `size` field so the decrement is O(commit), the
        # same trick delta-spark's RemoveFile uses); falls back to summing
        # one log replay's live adds when no prior checksum exists.
        self.version_checksum = version_checksum
        self._reset()

    # Delta can express row-level deletes natively (deletion vectors);
    # sources with expose_row_deletes=True may skip shadow rewrites
    supports_row_deletes = True

    def _reset(self) -> None:
        self._table: Optional[InternalTable] = None
        self._schema: Optional[T.StructType] = None
        self._partition_cols: list[str] = []
        self._generated_fields: list[T.StructField] = []
        self._metadata_json: Optional[str] = None
        # driver rows: inventory Rows to add, {path, size} dicts to remove
        self._adds: Optional[list[dict]] = None
        self._removes: Optional[list[dict]] = None
        self._committed_version: Optional[int] = None
        self._row_deletes: Optional[list[dict]] = None
        self._row_changes: Optional[DataFrame] = None
        self._row_lineage: Optional[dict] = None
        self._domain_metadata: dict[str, str] = {}
        self._removed_domains: set[str] = set()

    # -- sync steps --------------------------------------------------------

    def begin_sync(self, table: InternalTable) -> None:
        self._reset()
        self._table = table
        os.makedirs(_log_dir(self.base_path), exist_ok=True)

    def sync_schema(self, schema: T.StructType) -> None:
        self._schema = schema

    def sync_partition_spec(self, partition_fields: list) -> None:
        """Accepts canonical InternalPartitionField objects (or bare
        column-name strings for identity partitions). Non-VALUE transforms
        become Delta generated columns: a derived field named
        xtable_partition_col_{TRANSFORM}_{src} carrying
        delta.generationExpression (DeltaPartitionExtractor.java:71-88)."""
        from incubator_xtable_spark.functions.partition_transforms import (
            generated_column_name,
            to_generation_expression,
        )
        from incubator_xtable_spark.model.core import (
            InternalPartitionField,
            PartitionTransformType,
        )

        self._partition_cols = []
        self._generated_fields: list[T.StructField] = []
        for pf in partition_fields:
            if isinstance(pf, str):
                self._partition_cols.append(pf)
                continue
            if pf.transform == PartitionTransformType.VALUE:
                self._partition_cols.append(pf.output_name)
                continue
            name = pf.partition_field_name or generated_column_name(pf.transform, pf.source_field)
            expr = to_generation_expression(
                InternalPartitionField(
                    source_field=pf.source_field,
                    transform=pf.transform,
                    num_buckets=pf.num_buckets,
                    date_format=pf.date_format,
                )
            )
            dtype = T.IntegerType() if pf.transform == PartitionTransformType.BUCKET else T.StringType()
            self._generated_fields.append(
                T.StructField(name, dtype, True, {"delta.generationExpression": expr})
            )
            self._partition_cols.append(name)

    def sync_domain_metadata(
        self, domains: dict[str, str], removed: tuple[str, ...] | set[str] = ()
    ) -> None:
        """Stage spec `domainMetadata` actions for the next commit
        (PROTOCOL.md "Domain Metadata": per-domain string configuration,
        latest-wins reconciliation, removed=true tombstones). Requires and
        auto-declares the domainMetadata writer table feature (writer 7).
        Domain state is metadata-sized (one action per touched domain per
        commit) and checkpoints carry the latest action per domain, so
        readers bootstrapping from a checkpoint see it."""
        overlap = set(domains) & set(removed)
        if overlap:
            raise ValueError(
                f"sync_domain_metadata: domains both set and removed: {sorted(overlap)}"
            )
        # spec: `delta.`-prefixed domains are system-controlled; user writes
        # there would also collide with the engine's own emissions (e.g. a
        # delta.rowTracking tombstone + the automatic high-watermark action
        # in ONE commit — two same-domain actions, and a nondeterministic
        # hwm reset to -1 reusing row ids)
        reserved = [d for d in set(domains) | set(removed) if d.startswith("delta.")]
        if reserved:
            raise ValueError(
                f"sync_domain_metadata: 'delta.'-prefixed domains are "
                f"system-controlled: {sorted(reserved)}"
            )
        self._domain_metadata.update(domains)
        self._removed_domains.update(removed)

    def sync_metadata(self, metadata: TableSyncMetadata) -> None:
        self._metadata_json = metadata.to_json()

    def sync_files_for_snapshot(self, files: Any) -> None:
        """Full snapshot, committed as a minimal diff against the target's
        current live files (snapshot-as-diff,
        delta/DeltaDataFileUpdatesExtractor.java:70-86)."""
        from incubator_xtable_spark.sources.delta_source import live_adds

        self._adds, removed = files_diff(
            table_rows(files),
            live_adds(self.base_path).values(),
            self.base_path,
            lambda r: r["physical_path"],
            lambda a: a["path"],
        )
        # a remove names the path exactly as the log has it; size rides
        # along for the spec-optional `size` field (keeps the
        # version-checksum decrement O(commit))
        self._removes = [{"path": a["path"], "size": a.get("size")} for a in removed]

    def sync_files_for_diff(self, change: TableChange) -> None:
        self._adds = table_rows(change.files_added)
        self._removes = [
            {"path": relativize(r["physical_path"], self.base_path), "size": r["size_bytes"]}
            for r in table_rows(change.files_removed)
        ]

    def sync_row_deletes(self, deletes: Any) -> None:
        """Row-delete channel (ROW_DELETES_SCHEMA): each covered data file
        gets a REAL Delta deletion vector ('u'-storage roaring bitmap,
        written on the driver from the positions parquet) attached to its
        add action — data files are never rewritten. Files already live
        in the target re-commit as remove + re-add with the new DV (the
        shape a Delta DELETE writes); an unchanged delete set is a no-op."""
        self._row_deletes = table_rows(deletes)

    def sync_row_lineage(self, mapping: dict) -> None:
        """Row-lineage channel ({physical_path: first row id}): this
        commit's adds take the SOURCE's row ids as their baseRowId
        (Iceberg v3 first_row_id -> Delta Row Tracking), so stable row
        ids survive the conversion. Requires row_tracking=True on this
        target (validated at commit); when the channel is active every
        added file must be named in the mapping — mixing source ids with
        fresh ranges inside one commit cannot be proven disjoint."""
        self._row_lineage = dict(mapping)

    def sync_row_changes(self, changes: DataFrame) -> None:
        """CDC channel: the commit's row-level changes (table columns +
        `_change_type`). Persisted as spec Change Data Files when this
        target was created with change_feed=True; ignored otherwise (the
        channel is advisory — a target that can't express a change feed
        simply doesn't)."""
        if self.change_feed:
            self._row_changes = changes

    @staticmethod
    def _with_column_mapping(schema: T.StructType) -> tuple[T.StructType, int]:
        """When the source schema carries canonical field ids (Iceberg
        sources, Hudi id-tracking), persist them as Delta column mapping:
        every field gets delta.columnMapping.id (source id, or the next
        free id for unmapped fields — Delta requires a complete mapping)
        and delta.columnMapping.physicalName. Physical names default to
        the ACTUAL column names: conversion references pre-existing
        parquet whose columns are named, so name-mode resolution must hit
        them verbatim (also keeps add.partitionValues keys unchanged).
        Returns (annotated schema, maxColumnId); maxColumnId == 0 means
        no ids anywhere -> no mapping written. Write-side extension of
        the read path in delta_source._lift_column_mapping
        (DeltaSchemaExtractor.java:57-58,137-144)."""
        from incubator_xtable_spark.model.schema_meta import FIELD_ID, STORAGE_NAME

        def nested_structs(dt: T.DataType):
            """Struct types reachable through arrays/maps (Iceberg sources
            carry field ids on fields nested inside both)."""
            if isinstance(dt, T.StructType):
                yield dt
            elif isinstance(dt, T.ArrayType):
                yield from nested_structs(dt.elementType)
            elif isinstance(dt, T.MapType):
                yield from nested_structs(dt.keyType)
                yield from nested_structs(dt.valueType)

        def has_ids(st: T.StructType) -> bool:
            for f in st.fields:
                if FIELD_ID in (f.metadata or {}):
                    return True
                if any(has_ids(s) for s in nested_structs(f.dataType)):
                    return True
            return False

        if not has_ids(schema):
            return schema, 0

        def collect_max(st: T.StructType, mx: int) -> int:
            for f in st.fields:
                fid = (f.metadata or {}).get(FIELD_ID)
                if fid is not None:
                    mx = max(mx, int(fid))
                for s in nested_structs(f.dataType):
                    mx = collect_max(s, mx)
            return mx

        next_id = [collect_max(schema, 0)]

        def visit_type(dt: T.DataType) -> T.DataType:
            if isinstance(dt, T.StructType):
                return T.StructType([visit(c) for c in dt.fields])
            if isinstance(dt, T.ArrayType):
                return T.ArrayType(visit_type(dt.elementType), dt.containsNull)
            if isinstance(dt, T.MapType):
                return T.MapType(
                    visit_type(dt.keyType), visit_type(dt.valueType), dt.valueContainsNull
                )
            return dt

        def visit(f: T.StructField) -> T.StructField:
            meta = dict(f.metadata or {})
            fid = meta.get(FIELD_ID)
            if fid is None:
                next_id[0] += 1
                fid = next_id[0]
            meta["delta.columnMapping.id"] = int(fid)
            meta["delta.columnMapping.physicalName"] = meta.get(STORAGE_NAME, f.name)
            return T.StructField(f.name, visit_type(f.dataType), f.nullable, meta)

        return T.StructType([visit(f) for f in schema.fields]), next_id[0]

    def complete_sync(self) -> int:
        cur = current_log_version(self.base_path)
        version = (cur if cur is not None else -1) + 1
        now_ms = int(time.time() * 1000)
        schema = self._schema or (self._table.read_schema if self._table else None)
        if schema is None:
            raise ValueError("sync_schema must run before complete_sync")

        mapped_schema, max_col_id = self._with_column_mapping(schema)

        # In-Commit Timestamps: resolve this commit's ICT before any action
        # renders. Strict monotonicity (> previous commit's ICT) is the
        # spec's one hard ICT invariant — two commits inside the same
        # wall-clock millisecond still advance by 1. Once the table has the
        # flag, it stays on even if this target instance was built without
        # it (features never demote).
        prev_cfg_all = self._previous_configuration() if version else {}
        ict_was_on = prev_cfg_all.get("delta.enableInCommitTimestamps") == "true"
        ict_on = self.in_commit_timestamps or ict_was_on
        ict: Optional[int] = None
        if ict_on:
            prev_ict = self._read_prev_ict(version - 1) if version and ict_was_on else None
            ict = now_ms if prev_ict is None else max(now_ms, prev_ict + 1)
        # enabling on an EXISTING table: the spec requires the enablement
        # version/timestamp properties so readers know where the time-travel
        # authority flips from file modification time to ICT
        ict_enable_now = ict_on and version > 0 and not ict_was_on

        # Clustered table: resolve the delta.clustering domain payload
        # (physical names under column mapping); emit only when the set
        # actually changes. Top-level columns only; clustered tables are
        # unpartitioned by spec.
        clustering_json: Optional[str] = None
        if self.clustering_columns:
            if self._partition_cols:
                raise ValueError(
                    "clustering_columns: clustered Delta tables must be "
                    f"unpartitioned (partitioned by {self._partition_cols})"
                )
            bad = [c for c in self.clustering_columns if "." in c]
            if bad:
                raise NotImplementedError(
                    f"clustering_columns: nested paths unsupported: {bad}"
                )
            missing = [c for c in self.clustering_columns if c not in schema.names]
            if missing:
                raise ValueError(f"clustering_columns not in schema: {missing}")
            phys = {f.name: rf.name for f, rf in zip(schema.fields, mapped_schema.fields)}
            clustering_json = json.dumps(
                {"clusteringColumns": [[phys.get(c, c)] for c in self.clustering_columns]}
            )
            if version > 0:
                from incubator_xtable_spark.sources.delta_source import (
                    live_domain_metadata,
                )

                if (
                    live_domain_metadata(self.base_path).get("delta.clustering")
                    == clustering_json
                ):
                    clustering_json = None  # unchanged — no re-emission

        # Row tracking: creation-only enablement (mid-table would need a
        # baseRowId backfill of every live add); once on, stays on. Fresh
        # ranges start above the domain's high watermark.
        rt_was_on = prev_cfg_all.get("delta.enableRowTracking") == "true"
        if self.row_tracking and version > 0 and not rt_was_on:
            raise NotImplementedError(
                "row_tracking can only be enabled at table creation: existing "
                "adds carry no baseRowId and would need a backfill commit"
            )
        rt_on = (self.row_tracking and version == 0) or rt_was_on
        if self._row_lineage is not None and not rt_on:
            raise ValueError(
                "row-lineage preservation needs Row Tracking: construct this "
                "target with row_tracking=True (creation-only, like the spec)"
            )
        rt_state: Optional[dict[str, Any]] = None
        if rt_on:
            hwm = -1
            if version > 0:
                from incubator_xtable_spark.sources.delta_source import (
                    live_domain_metadata,
                )

                raw = live_domain_metadata(self.base_path).get("delta.rowTracking")
                if raw:
                    hwm = int(json.loads(raw).get("rowIdHighWaterMark", -1))
            # hwm0 freezes the pre-commit watermark (lineage hand-outs
            # below it would collide with already-assigned ranges); spans
            # proves THIS commit's provided ranges mutually disjoint
            rt_state = {"hwm": hwm, "assigned": 0, "hwm0": hwm, "spans": []}

        # row-delete channel: write DV files and split them into
        # (a) descriptors attached to this commit's adds and
        # (b) remove+re-add pairs for files already live in the target
        dv_map: dict[str, dict] = {}
        dv_readds: list[dict] = []
        if self._row_deletes is not None:
            from incubator_xtable_spark.sources.delta_dv import (
                write_dv_files_from_positions,
            )

            dv_map = write_dv_files_from_positions(self.base_path, self._row_deletes)
            if version > 0:
                # row_deletes is the COMPLETE delete state: a live file
                # with a changed set re-adds with the new DV; one absent
                # from the map whose live add still carries a DV re-adds
                # WITHOUT it (RESTORE propagation); unchanged sets no-op
                from incubator_xtable_spark.sources.delta_source import live_adds

                base = self.base_path.rstrip("/") + "/"
                add_paths = {relativize(r["physical_path"], base) for r in self._adds or ()}
                # files removed in THIS commit must not be resurrected by
                # the re-add loop (their DVs die with them)
                removed_paths = {r["path"] for r in self._removes or ()}
                for r in live_adds(self.base_path, version - 1).values():
                    if r["path"] in removed_paths:
                        continue
                    if relativize(r["path"], base) in add_paths:
                        continue
                    abs_p = r["path"] if r["path"].startswith("/") else base + r["path"]
                    desc = dv_map.get(abs_p)
                    cur = r["deletionVector"]
                    cur_active = cur is not None and cur["storageType"]
                    if desc is None and not cur_active:
                        continue  # never deleted — untouched
                    if (
                        desc is not None
                        and cur_active
                        and cur["pathOrInlineDv"] == desc["pathOrInlineDv"]
                    ):
                        continue  # unchanged delete set — no-op
                    readd = {
                        "path": r["path"],
                        "partitionValues": dict(r["partitionValues"] or {}),
                        "size": r["size"],
                        "modificationTime": r["modificationTime"],
                        "stats": r["stats"],
                    }
                    # row tracking: a re-add keeps its original fresh-row-id
                    # range (stable row ids across DV updates — spec rule)
                    if r["baseRowId"] is not None:
                        readd["baseRowId"] = r["baseRowId"]
                        readd["defaultRowCommitVersion"] = r["defaultRowCommitVersion"]
                    if desc is not None:
                        readd["deletionVector"] = desc
                    dv_readds.append(readd)

        # CDC channel -> spec Change Data Files: the commit's row changes
        # land as parquet under _change_data/ plus one cdc action each
        # (dataChange=false — CDF supplements the file actions, never
        # replaces them). Distributed write, bounded file count.
        cdc_actions: list[dict] = []
        if self.change_feed and self._row_changes is not None and version > 0:
            cdc_actions = self._write_change_data(self._row_changes, mapped_schema)

        # version-checksum running totals, filled while actions() streams
        # (the generator is fully consumed by _atomic_write below)
        crc_acc: dict[str, Any] = {
            "add_n": 0,
            "add_bytes": 0,
            "rm_n": 0,
            "rm_bytes": 0,
            "rm_unsized": False,
            "protocol": None,
            "metadata": None,
        }

        def actions() -> Iterator[str]:
            commit_info: dict[str, Any] = {
                "timestamp": now_ms,
                "operation": "XTABLE SYNC" if version else "CREATE TABLE",
                "operationParameters": {},
                "engineInfo": "incubator_xtable_spark/0.1",
            }
            if ict is not None:
                # spec: with ICT enabled, commitInfo MUST be the commit's
                # first action and carry inCommitTimestamp (this yield is
                # already first)
                commit_info["inCommitTimestamp"] = ict
            yield json.dumps({"commitInfo": commit_info})
            # generated columns require writer protocol v4; column mapping
            # reader 2 / writer 5; deletion vectors reader 3 / writer 7
            # with named table features (Delta PROTOCOL.md)
            # generated columns and change data feed both need writer 4
            writer_version = (
                4 if (self._generated_fields or self.change_feed) else MIN_WRITER_VERSION
            )
            reader_version = MIN_READER_VERSION
            if max_col_id:
                reader_version = max(reader_version, 2)
                writer_version = max(writer_version, 5)
            need_dv = bool(dv_map) or bool(dv_readds)
            need_v2cp = self.checkpoint_layout == "v2" and self.checkpoint_interval > 0
            # type-gated reader-writer features (PROTOCOL.md): a schema
            # carrying TIMESTAMP_NTZ anywhere (nested included) requires
            # timestampNtz — legacy readers interpret the physical values
            # as UTC-adjusted and silently shift them; VARIANT requires
            # variantType — legacy readers cannot decode the physical
            # (metadata, value) binary pair at all
            def _schema_has(dt: T.DataType, klass) -> bool:
                if isinstance(dt, klass):
                    return True
                if isinstance(dt, T.StructType):
                    return any(_schema_has(f.dataType, klass) for f in dt.fields)
                if isinstance(dt, T.ArrayType):
                    return _schema_has(dt.elementType, klass)
                if isinstance(dt, T.MapType):
                    return _schema_has(dt.keyType, klass) or _schema_has(
                        dt.valueType, klass
                    )
                return False

            def _need_type(klass) -> bool:
                return _schema_has(schema, klass) or any(
                    _schema_has(f.dataType, klass) for f in self._generated_fields or []
                )

            need_ntz = _need_type(T.TimestampNTZType)
            _variant_t = getattr(T, "VariantType", None)
            need_variant = _variant_t is not None and _need_type(_variant_t)
            if need_dv or need_v2cp or need_ntz or need_variant:
                reader_version = max(reader_version, 3)
                writer_version = max(writer_version, 7)
            if ict_on:
                # inCommitTimestamp is a WRITER-only table feature: writer 7,
                # reader version untouched
                writer_version = max(writer_version, 7)
            need_domain = bool(self._domain_metadata or self._removed_domains)
            need_clustering = bool(self.clustering_columns)
            if need_domain or rt_on or need_clustering:
                # domainMetadata / rowTracking / clustering are writer-only
                writer_version = max(writer_version, 7)
            prev_proto = None if version == 0 else self._latest("protocol")
            prev_reader_feats = set((prev_proto or {}).get("readerFeatures") or [])
            prev_writer_feats = set((prev_proto or {}).get("writerFeatures") or [])
            # CDF on an existing table: legacy writer 4-6 implies it; a
            # table-features writer (7) must LIST changeDataFeed; below 4
            # an upgrade commit is required before cdc actions are legal
            prev_wv = (prev_proto or {}).get("minWriterVersion", 1)
            cdf_upgrade_needed = (
                self.change_feed
                and prev_proto is not None
                and (
                    prev_wv < 4
                    or (prev_wv >= 7 and "changeDataFeed" not in prev_writer_feats)
                )
            )
            ict_upgrade_needed = (
                ict_on
                and prev_proto is not None
                and (prev_wv < 7 or "inCommitTimestamp" not in prev_writer_feats)
            )
            domain_upgrade_needed = (
                (need_domain or need_clustering)
                and prev_proto is not None
                and (
                    prev_wv < 7
                    or "domainMetadata" not in prev_writer_feats
                    or (need_clustering and "clustering" not in prev_writer_feats)
                )
            )
            ntz_upgrade_needed = (
                need_ntz
                and prev_proto is not None
                and (
                    prev_proto.get("minReaderVersion", 1) < 3
                    or "timestampNtz" not in prev_reader_feats
                )
            )
            variant_upgrade_needed = (
                need_variant
                and prev_proto is not None
                and (
                    prev_proto.get("minReaderVersion", 1) < 3
                    or "variantType" not in prev_reader_feats
                )
            )
            if version == 0 or (
                need_dv
                and prev_proto is not None
                and (
                    prev_proto.get("minReaderVersion", 1) < 3
                    or "deletionVectors" not in prev_reader_feats
                )
            ) or (
                need_v2cp and prev_proto is not None and "v2Checkpoint" not in prev_reader_feats
            ) or cdf_upgrade_needed or ict_upgrade_needed or domain_upgrade_needed or ntz_upgrade_needed or variant_upgrade_needed:
                # an existing table-features protocol stays on 3/7 even if
                # this commit's own needs are lower (features cannot demote)
                if prev_reader_feats:
                    reader_version = max(reader_version, 3)
                if prev_writer_feats:
                    writer_version = max(writer_version, 7)
                proto: dict[str, Any] = {
                    "minReaderVersion": reader_version,
                    "minWriterVersion": writer_version,
                }
                if (
                    need_dv
                    or need_v2cp
                    or need_ntz
                    or need_variant
                    or ict_on
                    or need_domain
                    or rt_on
                    or need_clustering
                    or prev_writer_feats
                ):
                    # a table-features protocol (3/7) must list EVERY
                    # active feature, including those the replaced legacy
                    # protocol implied — not just the newly needed one
                    reader_feats = set(prev_reader_feats)
                    writer_feats = set(prev_writer_feats)
                    writer_feats |= {"appendOnly", "invariants"}
                    # spec legacy-feature mapping: replacing a legacy
                    # writer version must list everything it implied
                    if prev_proto is not None and not prev_writer_feats:
                        if prev_wv >= 3:
                            writer_feats.add("checkConstraints")
                        if prev_wv >= 4:
                            writer_feats |= {"changeDataFeed", "generatedColumns"}
                        if prev_wv >= 5:
                            writer_feats.add("columnMapping")
                            reader_feats.add("columnMapping")
                        if prev_wv >= 6:
                            writer_feats.add("identityColumns")
                    if self.change_feed:
                        # writer-7 tables enable ONLY listed features
                        writer_feats.add("changeDataFeed")
                    if need_dv or "deletionVectors" in prev_reader_feats:
                        reader_feats.add("deletionVectors")
                        writer_feats.add("deletionVectors")
                    if need_v2cp:
                        reader_feats.add("v2Checkpoint")
                        writer_feats.add("v2Checkpoint")
                    if need_ntz or "timestampNtz" in prev_reader_feats:
                        reader_feats.add("timestampNtz")
                        writer_feats.add("timestampNtz")
                    if need_variant or "variantType" in prev_reader_feats:
                        reader_feats.add("variantType")
                        writer_feats.add("variantType")
                    if max_col_id:
                        reader_feats.add("columnMapping")
                        writer_feats.add("columnMapping")
                    if self._generated_fields:
                        writer_feats.add("generatedColumns")
                    if ict_on:
                        writer_feats.add("inCommitTimestamp")
                    if need_domain:
                        writer_feats.add("domainMetadata")
                    if need_clustering:
                        # clustering state lives in the delta.clustering
                        # domain, so both features are required
                        writer_feats.add("clustering")
                        writer_feats.add("domainMetadata")
                    if rt_on:
                        # spec: rowTracking depends on domainMetadata (the
                        # high watermark lives in a metadata domain)
                        writer_feats.add("rowTracking")
                        writer_feats.add("domainMetadata")
                    if "delta.columnMapping.mode" in prev_cfg_all:
                        reader_feats.add("columnMapping")
                        writer_feats.add("columnMapping")
                    # spec: readerFeatures exists only on reader-3 protocols
                    # (a writer-7/reader-1 table — e.g. ICT alone — lists
                    # writerFeatures only; reader capabilities stay implied
                    # by the legacy minReaderVersion)
                    if reader_version >= 3:
                        proto["readerFeatures"] = sorted(reader_feats)
                    proto["writerFeatures"] = sorted(writer_feats)
                crc_acc["protocol"] = proto
                yield json.dumps({"protocol": proto})
            if (
                version == 0
                or self._metadata_json is not None
                or self._schema is not None
                or ict_enable_now
            ):
                # seed from the PREVIOUS configuration: a metaData rebuild
                # (every sync emits one) must not erase properties set by an
                # earlier run or an external writer — rebuilding from
                # instance flags alone silently demoted e.g.
                # delta.enableChangeDataFeed when a later target instance
                # was built without change_feed (r10 self-review)
                configuration = dict(prev_cfg_all)
                configuration.setdefault(
                    "delta.logRetentionDuration", "interval 7 days"
                )
                if self.change_feed:
                    configuration["delta.enableChangeDataFeed"] = "true"
                if rt_on:
                    configuration["delta.enableRowTracking"] = "true"
                if ict_on:
                    configuration["delta.enableInCommitTimestamps"] = "true"
                    if ict_enable_now:
                        # first ICT commit on an existing table: record where
                        # the time-travel authority flips (spec requirement)
                        configuration["delta.inCommitTimestampEnablementVersion"] = str(
                            version
                        )
                        configuration["delta.inCommitTimestampEnablementTimestamp"] = str(
                            ict
                        )
                if self._metadata_json is not None:
                    configuration[XTABLE_METADATA_KEY] = self._metadata_json
                # column mapping only on tables CREATED with it (a later
                # mode flip would need a mid-table protocol upgrade +
                # physical-name rewrite; out of scope for conversion)
                use_mapping = bool(max_col_id) and (
                    version == 0 or "delta.columnMapping.mode" in prev_cfg_all
                )
                out_schema = mapped_schema if use_mapping else schema
                if use_mapping:
                    configuration["delta.columnMapping.mode"] = "name"
                    configuration["delta.columnMapping.maxColumnId"] = str(max_col_id)
                full_schema = (
                    T.StructType(list(out_schema.fields) + self._generated_fields)
                    if self._generated_fields
                    else out_schema
                )
                meta_action = {
                    "id": self._table_id(),
                    "name": self._table.name if self._table else None,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": full_schema.json(),
                    "partitionColumns": self._partition_cols,
                    "configuration": configuration,
                    "createdTime": now_ms,
                }
                crc_acc["metadata"] = meta_action
                yield json.dumps({"metaData": meta_action})
            # domain metadata: one action per touched domain (spec allows at
            # most one per domain per commit); removal tombstones keep an
            # empty configuration
            for d in sorted(self._domain_metadata):
                yield json.dumps(
                    {
                        "domainMetadata": {
                            "domain": d,
                            "configuration": self._domain_metadata[d],
                            "removed": False,
                        }
                    }
                )
            for d in sorted(self._removed_domains):
                yield json.dumps(
                    {"domainMetadata": {"domain": d, "configuration": "", "removed": True}}
                )
            if self._removes is not None:
                for d in self._removes:
                    rm: dict[str, Any] = {
                        "path": d["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                    if d.get("size") is not None:
                        rm["size"] = d["size"]
                        crc_acc["rm_bytes"] += d["size"]
                    else:
                        crc_acc["rm_unsized"] = True
                    crc_acc["rm_n"] += 1
                    yield json.dumps({"remove": rm})
            if self._adds is not None:
                for row in self._adds:
                    crc_acc["add_n"] += 1
                    crc_acc["add_bytes"] += row["size_bytes"]
                    yield self._add_action(
                        row,
                        schema,
                        now_ms,
                        dv_map.get(row["physical_path"]),
                        rt_state=rt_state,
                        version=version,
                    )
            # DV-update shape for files already live: remove + re-add with
            # the new deletion vector (what a Delta DELETE commit writes).
            # Net zero for the version checksum (same file, same size) but
            # counted through both sides to keep the running totals exact.
            for ra in dv_readds:
                crc_acc["rm_n"] += 1
                crc_acc["rm_bytes"] += ra["size"]
                crc_acc["add_n"] += 1
                crc_acc["add_bytes"] += ra["size"]
                yield json.dumps(
                    {
                        "remove": {
                            "path": ra["path"],
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                            "size": ra["size"],
                        }
                    }
                )
                add = dict(ra)
                add["dataChange"] = True
                yield json.dumps({"add": add})
            for c in cdc_actions:
                yield json.dumps({"cdc": c})
            if clustering_json is not None:
                yield json.dumps(
                    {
                        "domainMetadata": {
                            "domain": "delta.clustering",
                            "configuration": clustering_json,
                            "removed": False,
                        }
                    }
                )
            if rt_state is not None:
                # the high watermark AFTER this commit's fresh assignments
                # (action order within a commit is free except ICT's
                # commitInfo-first, so emitting last is legal)
                yield json.dumps(
                    {
                        "domainMetadata": {
                            "domain": "delta.rowTracking",
                            "configuration": json.dumps(
                                {"rowIdHighWaterMark": rt_state["hwm"]}
                            ),
                            "removed": False,
                        }
                    }
                )

        self._atomic_write(version, actions())
        self._committed_version = version
        if self.version_checksum:
            self._write_version_checksum(version, crc_acc, ict)
        if self.checkpoint_interval and version > 0 and version % self.checkpoint_interval == 0:
            from incubator_xtable_spark.sources.delta_source import write_checkpoint

            write_checkpoint(self.base_path, version, layout=self.checkpoint_layout)
        if (
            self.compaction_interval
            and version > 0
            and (version + 1) % self.compaction_interval == 0
        ):
            from incubator_xtable_spark.sync.retention import delta_compact_log

            delta_compact_log(
                self.base_path, version - self.compaction_interval + 1, version
            )
        return version

    # -- helpers -----------------------------------------------------------

    def _write_change_data(
        self, changes: DataFrame, mapped_schema: T.StructType
    ) -> list[dict]:
        """Write the CDC rows as parquet under _change_data/ and return
        the cdc action dicts. Empty change sets write nothing (readers
        then correctly derive "no changes" from the file actions).

        Partitioned tables: CDF readers re-derive the partition columns
        from each cdc action's partitionValues (the columns are NOT in
        the change files, same as data files), so the write goes through
        partitionBy and each emitted file carries its hive-path values.

        Column mapping (mode=name): change files store PHYSICAL column
        names and cdc partitionValues key by physical name, exactly like
        data files (Delta PROTOCOL.md; the reader resolves both through
        delta.columnMapping.physicalName). ``mapped_schema`` is the
        annotated schema this commit's metaData will carry — renamed
        columns (physicalName != logical) are renamed/cast before write,
        nested renames via a cast to the physical struct type."""
        import glob
        import shutil
        import uuid as _uuid

        if changes.isEmpty():
            return []
        from incubator_xtable_spark.sources.delta_source import _physical_type

        phys_schema = _physical_type(mapped_schema)
        phys_of = {
            f.name: pf for f, pf in zip(mapped_schema.fields, phys_schema.fields)
        }
        exprs = []
        for c in changes.columns:
            f = next((x for x in mapped_schema.fields if x.name == c), None)
            if f is None:  # _change_type and any non-table column
                exprs.append(F.col(c))
                continue
            pf = phys_of[c]
            e = F.col(c)
            if pf.dataType != f.dataType:  # nested renames live in the type
                e = e.cast(pf.dataType)
            exprs.append(e.alias(pf.name))
        changes = changes.select(*exprs)
        cd_dir = os.path.join(self.base_path, "_change_data")
        os.makedirs(cd_dir, exist_ok=True)
        tmp = os.path.join(cd_dir, f".cdc-tmp-{_uuid.uuid4().hex}")
        part_cols = [
            phys_of[c].name if c in phys_of else c
            for c in self._partition_cols
            if (phys_of[c].name if c in phys_of else c) in changes.columns
        ]
        # per-commit change sets are change-volume-sized; bound the file
        # count rather than inheriting the session's shuffle parallelism
        writer = changes.coalesce(4).write
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(tmp)
        out: list[dict] = []
        for part in sorted(glob.glob(os.path.join(tmp, "**", "part-*.parquet"), recursive=True)):
            pv = partition_values(os.path.relpath(os.path.dirname(part), tmp))
            name = f"cdc-{_uuid.uuid4().hex}.parquet"
            dst = os.path.join(cd_dir, name)
            os.replace(part, dst)
            out.append(
                {
                    "path": f"_change_data/{name}",
                    "partitionValues": pv,
                    "size": os.path.getsize(dst),
                    "dataChange": False,
                }
            )
        shutil.rmtree(tmp, ignore_errors=True)
        return out

    def _add_action(
        self,
        row: dict,
        schema: T.StructType,
        now_ms: int,
        dv_desc: Optional[dict] = None,
        rt_state: Optional[dict] = None,
        version: int = 0,
    ) -> str:
        col_stats = {}
        raw_stats = row["column_stats"]
        if raw_stats:
            col_stats = {
                name: {
                    "min_json": st["min_json"],
                    "max_json": st["max_json"],
                    "null_count": st["null_count"],
                }
                for name, st in raw_stats.items()
            }
        if (row["file_format"] or "PARQUET").upper() != "PARQUET":
            # the target writes metaData.format.provider=parquet; registering
            # a non-parquet file would silently corrupt every reader
            raise NotImplementedError(
                f"Delta target: data file {row['physical_path']!r} has format "
                f"{row['file_format']}; Delta tables here are parquet-only"
            )
        add = {
            "path": relativize(row["physical_path"], self.base_path),
            "partitionValues": dict(row["partition_values"] or {}),
            "size": row["size_bytes"],
            "modificationTime": row["last_modified_ms"] or now_ms,
            "dataChange": True,
            "stats": to_delta_stats_json(row["record_count"], col_stats, schema),
        }
        if rt_state is not None:
            # fresh row-id range: [hwm+1, hwm+numRecords]; sequential
            # hand-out during the drain keeps ranges disjoint by
            # construction (spec "Row Tracking" fresh-row requirement)
            n = row["record_count"]
            if n is None:
                raise ValueError(
                    f"row_tracking needs record counts; file "
                    f"{row['physical_path']!r} has no record_count stat"
                )
            if self._row_lineage is not None:
                # lineage channel: take the SOURCE's range verbatim
                provided = self._row_lineage.get(row["physical_path"])
                if provided is None:
                    raise ValueError(
                        "row-lineage channel active but add "
                        f"{row['physical_path']!r} is not in the mapping — the "
                        "source must provide lineage for every added file"
                    )
                provided = int(provided)
                if provided <= rt_state["hwm0"]:
                    raise ValueError(
                        f"provided row-id range [{provided},{provided + int(n)}) "
                        f"falls under the table's watermark {rt_state['hwm0']} — "
                        "enable the lineage channel at table creation, not mid-life"
                    )
                import bisect

                spans = rt_state["spans"]
                i = bisect.bisect_left(spans, (provided, provided))
                if (i > 0 and spans[i - 1][1] > provided) or (
                    i < len(spans) and spans[i][0] < provided + int(n)
                ):
                    raise ValueError(
                        f"provided row-id range [{provided},{provided + int(n)}) "
                        "overlaps another provided range in this commit"
                    )
                spans.insert(i, (provided, provided + int(n)))
                add["baseRowId"] = provided
                rt_state["hwm"] = max(rt_state["hwm"], provided + int(n) - 1)
            else:
                add["baseRowId"] = rt_state["hwm"] + 1
                rt_state["hwm"] += int(n)
            add["defaultRowCommitVersion"] = version
            rt_state["assigned"] += 1
        if dv_desc is not None:
            add["deletionVector"] = dv_desc
        return json.dumps({"add": add})

    def _write_version_checksum(
        self, version: int, acc: dict[str, Any], ict: Optional[int]
    ) -> None:
        """Emit ``_delta_log/<version>.crc`` — the post-commit state summary
        delta-spark's VersionChecksum hook writes (tableSizeBytes, numFiles,
        numMetadata/numProtocol, the effective metaData + protocol, the
        commit's inCommitTimestamp when ICT is on).

        Scale: O(commit) — the previous version's checksum seeds the totals
        and this commit's add/remove deltas adjust them (every remove action
        carries the optional ``size`` field exactly so this decrement never
        needs the prior snapshot). Only when no prior checksum exists (first
        commit, or checksums enabled mid-table) does it fall back to
        summing the live adds of one log replay."""
        prev = read_version_checksum(self.base_path, version - 1) if version else None
        usable_prev = (
            prev is not None
            and not acc["rm_unsized"]
            and isinstance(prev.get("numFiles"), int)
            and isinstance(prev.get("tableSizeBytes"), int)
        )
        if version == 0:
            num_files = acc["add_n"]
            table_bytes = acc["add_bytes"]
        elif usable_prev:
            num_files = prev["numFiles"] + acc["add_n"] - acc["rm_n"]
            table_bytes = prev["tableSizeBytes"] + acc["add_bytes"] - acc["rm_bytes"]
        else:
            from incubator_xtable_spark.sources.delta_source import live_adds

            live = live_adds(self.base_path, version).values()
            num_files, table_bytes = len(live), sum(a["size"] or 0 for a in live)
        protocol = acc["protocol"] or self._latest("protocol")
        metadata = acc["metadata"] or self._latest("metaData")
        payload: dict[str, Any] = {
            "txnId": str(uuid.uuid4()),
            "tableSizeBytes": table_bytes,
            "numFiles": num_files,
            "numMetadata": 1,
            "numProtocol": 1,
            "metadata": metadata,
            "protocol": protocol,
        }
        if ict is not None:
            payload["inCommitTimestampOpt"] = ict
        final = os.path.join(_log_dir(self.base_path), f"{version:020d}.crc")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(json.dumps(payload))
            fh.write("\n")
        os.replace(tmp, final)

    def _table_id(self) -> str:
        existing = self.get_table_properties()
        if existing is not None and existing.get("__table_id"):
            return existing["__table_id"]
        meta = self._latest("metaData")
        if meta is not None:
            return meta.get("id", str(uuid.uuid4()))
        return str(uuid.uuid4())

    def _atomic_write(self, version: int, lines: Iterator[str]) -> None:
        """Put-if-absent commit: write a temp file, hard-link it into place
        (fails if the version already exists = optimistic concurrency),
        mirroring Delta's atomic rename contract."""
        final = _version_file(self.base_path, version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as fh:
            for line in lines:
                fh.write(line)
                fh.write("\n")
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise RuntimeError(
                f"concurrent commit detected for version {version} at {final}"
            ) from exc
        finally:
            os.unlink(tmp)

    def _read_prev_ict(self, version: int) -> Optional[int]:
        """The inCommitTimestamp of the newest existing commit file at or
        below ``version`` (the monotonicity floor for the next commit).
        Scans downward so a retention-pruned tail (commits expired behind a
        checkpoint) degrades to wall-clock rather than crashing — the spec
        only requires monotonicity against commits that still exist."""
        from incubator_xtable_spark.sources.delta_source import read_commit_ict

        for ver in range(version, -1, -1):
            fp = _version_file(self.base_path, ver)
            if not os.path.exists(fp):
                continue
            return read_commit_ict(fp)
        return None

    def _previous_configuration(self) -> dict[str, Any]:
        meta = self._latest("metaData")
        return dict(meta.get("configuration") or {}) if meta else {}

    def _latest(self, kind: str) -> Optional[dict[str, Any]]:
        """The table's newest ``kind`` action (metaData, protocol), checkpoint
        included, as a JSON writer spells it: the fields the replay fills
        with null are dropped."""
        from incubator_xtable_spark.sources.delta_source import latest_action

        body = latest_action(self.base_path, kind)
        return None if body is None else {k: v for k, v in body.items() if v is not None}

    def get_table_properties(self) -> Optional[dict[str, str]]:
        meta = self._latest("metaData")
        if meta is None:
            return None
        return meta.get("configuration") or {}

    def get_table_metadata(self) -> Optional[TableSyncMetadata]:
        """Read back the sync bookmark (ConversionTarget.getTableMetadata)."""
        props = self.get_table_properties()
        if not props or XTABLE_METADATA_KEY not in props:
            return None
        return TableSyncMetadata.from_json(props[XTABLE_METADATA_KEY])

    def get_target_commit_identifier(self) -> Optional[str]:
        if self._committed_version is None:
            return None
        return str(self._committed_version)

