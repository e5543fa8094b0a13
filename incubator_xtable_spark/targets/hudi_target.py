"""Hudi (copy-on-write) conversion target: commits file-level metadata as
a Hudi timeline (`.hoodie/`) so the same parquet files are readable as a
Hudi table.

Follows the PUBLIC Hudi table layout (hudi.apache.org/docs — timeline
instants `<instant>.<action>[.<state>]`, instant format yyyyMMddHHmmssSSS,
`hoodie.properties` table config, commit metadata JSON with
partitionToWriteStats, replacecommit with partitionToReplaceFileIds).

Reference parity (what, not how — the reference drives the Hudi Java
write client; we write the timeline protocol directly because this
environment has no Hudi jars):
- target commit + table manage     hudi/HudiConversionTarget.java:267-470,
                                   hudi/HudiTableManager.java:1-179
- external file-id mapping         hudi/BaseFileUpdatesExtractor.java:247-323
  (files not written by Hudi keep their file name stem as fileId)
- bookmark in commit extraMetadata model/metadata/TableSyncMetadata.java
- instant format                   hudi/HudiInstantUtils.java:42-80

Metadata-table indexes: every commit also updates the `column_stats` and
`files` metadata partitions and advertises them via
`hoodie.table.metadata.partitions` (mirrors HudiConversionTarget.java:
267-470's write-client metadata update). With
``metadata_index_format="hfile"`` they take the real Hudi layout
(`targets/hudi_metadata_index.py`), which Hudi readers and this engine's
Hudi source read; the default writes the LITE per-commit parquet deltas
(`sources/hudi_metadata.py`).

Scale notes: the source hands over its snapshot or change as driver-held
Arrow tables; this target reads their rows, diffs a snapshot
against the timeline's live file groups with ``model.files_diff``, and
builds the write stats and both index deltas from the same rows (pyarrow
appends, no Spark job).

Known LITE limitations: the default index is parquet deltas, not HFile
MOR, so real Hudi readers cannot open it, and nothing in this engine reads
it back (its Hudi source lists a LITE-indexed table from the timeline and
reads parquet footers). It is kept while the benchmark's
``hudi_index`` setting passes ``metadata_index_format``; the HFile layout
is the one index the engine reads. Also: no marker files; base files lack
the five `_hoodie_*` meta columns (metadata-only conversion never rewrites
data — readers that require meta columns need
`hoodie.populate.meta.fields=false` semantics, which this target records
in hoodie.properties).
"""

from __future__ import annotations

import datetime
import json
import os
import uuid
from typing import Any, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from incubator_xtable_spark.model.core import InternalTable, TableChange, table_rows
from incubator_xtable_spark.model.files_diff import files_diff, relativize
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata, XTABLE_METADATA_KEY

HOODIE_DIR = ".hoodie"
COMMIT_ACTION = "commit"
REPLACE_ACTION = "replacecommit"
DELTA_COMMIT_ACTION = "deltacommit"  # MOR log-file writes


def instant_now() -> str:
    """yyyyMMddHHmmssSSS (UTC), the Hudi commit-instant format."""
    now = datetime.datetime.now(datetime.timezone.utc)
    return now.strftime("%Y%m%d%H%M%S") + f"{now.microsecond // 1000:03d}"


def instant_to_epoch_ms(instant: str) -> int:
    dt = datetime.datetime.strptime(instant[:17], "%Y%m%d%H%M%S%f").replace(
        tzinfo=datetime.timezone.utc
    )
    return int(dt.timestamp() * 1000)


def epoch_ms_to_instant(ms: int) -> str:
    dt = datetime.datetime.fromtimestamp(ms / 1000.0, tz=datetime.timezone.utc)
    return dt.strftime("%Y%m%d%H%M%S") + f"{dt.microsecond // 1000:03d}"


def _hoodie_dir(base_path: str) -> str:
    return os.path.join(base_path, HOODIE_DIR)


def file_id_of(path: str) -> str:
    """External files keep their name stem as the Hudi fileId
    (BaseFileUpdatesExtractor.isFileCreatedByHudiWriter inverse)."""
    return os.path.splitext(os.path.basename(path))[0]


def timeline_dir(base_path: str) -> str:
    """Active-timeline directory: ``.hoodie/timeline`` when present —
    the Hudi 1.0 layout (table version 8, ``hoodie.timeline.path``) —
    else ``.hoodie`` (table version <= 6). Directory presence is the
    detection signal both real Hudi 1.0 writers and this engine's v8
    mode produce."""
    t = os.path.join(base_path, HOODIE_DIR, "timeline")
    return t if os.path.isdir(t) else os.path.join(base_path, HOODIE_DIR)


def _parse_completed_name(
    fn: str, *, any_action: bool = False
) -> Optional[tuple[str, str, Optional[str]]]:
    """Completed-instant filename -> (requested instant, action,
    completion instant or None). Accepts BOTH timeline namings:
    v6 ``{instant}.{action}`` and v8 ``{instant}_{completion}.{action}``
    (Hudi 1.0 embeds the completion time in the filename). By default
    only WRITE actions parse (what replay/backlog consumers order by);
    ``any_action=True`` also accepts table services (clean/rollback/
    savepoint — everything that runs the requested->inflight->completed
    lifecycle), for consumers like rollback's torn-marker check."""
    parts = fn.split(".")
    if len(parts) != 2:
        return None
    action = parts[1]
    if any_action:
        if not action or action in ("requested", "inflight"):
            return None
    elif action not in (COMMIT_ACTION, REPLACE_ACTION, DELTA_COMMIT_ACTION):
        return None
    stem = parts[0]
    if stem.isdigit():
        return stem, action, None
    req, sep, comp = stem.partition("_")
    if sep and req.isdigit() and comp.isdigit():
        return req, action, comp
    return None


def list_completed_instants(base_path: str) -> list[tuple[str, str]]:
    """[(instant, action)] for completed commits, sorted by instant —
    instants key on the REQUESTED time in both timeline versions (what
    every consumer orders and diffs by; v8 completion times are exposed
    separately via completion_time_of)."""
    d = timeline_dir(base_path)
    if not os.path.isdir(d):
        return []
    out = []
    for fn in os.listdir(d):
        parsed = _parse_completed_name(fn)
        if parsed is not None:
            out.append((parsed[0], parsed[1]))
    return sorted(out)


def completed_instant_file(base_path: str, instant: str, action: str) -> Optional[str]:
    """Absolute path of the completed-instant file under either timeline
    naming; None when the instant has not completed."""
    d = timeline_dir(base_path)
    v6 = os.path.join(d, f"{instant}.{action}")
    if os.path.exists(v6):
        return v6
    if os.path.isdir(d):
        for fn in os.listdir(d):
            parsed = _parse_completed_name(fn)
            if parsed is not None and parsed[0] == instant and parsed[1] == action:
                return os.path.join(d, fn)
    return None


def completion_time_of(base_path: str, instant: str, action: str) -> Optional[str]:
    """The v8 completion instant embedded in the completed filename;
    None for v6-named instants (completion time is not recorded there)."""
    p = completed_instant_file(base_path, instant, action)
    if p is None:
        return None
    parsed = _parse_completed_name(os.path.basename(p))
    return parsed[2] if parsed else None


def read_commit_metadata(base_path: str, instant: str, action: str) -> dict:
    p = completed_instant_file(base_path, instant, action)
    if p is None:
        raise FileNotFoundError(
            f"no completed {action} for instant {instant} under {timeline_dir(base_path)}"
        )
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


class HudiConversionTarget:
    """ConversionTarget writing the Hudi timeline protocol."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        table_name: Optional[str] = None,
        change_feed: bool = False,
        metadata_indexes: bool = True,
        metadata_index_format: str = "parquet",
        metadata_index_key_mode: str = "hashed",
        metadata_index_compact_every: int = 10,
        record_index_field: Optional[str] = None,
        record_index_shards: int = 4,
        bloom_filters: bool = False,
        partition_stats: bool = False,
        secondary_index_field: Optional[str] = None,
        secondary_index_shards: int = 4,
        table_version: int = 6,
    ) -> None:
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.table_name = table_name
        # 6 (default): the 0.x timeline layout the reference targets.
        # 8: the Hudi 1.0 ACTIVE-TIMELINE layout — instants live under
        # `.hoodie/timeline/` and completed files embed the completion
        # time (`{requested}_{completion}.{action}`), with
        # hoodie.table.version=8 / hoodie.timeline.path declared.
        # Restated from public Hudi 1.0 release notes + docs; the
        # METADATA TABLE keeps the engine's existing layout in v8 mode
        # (documented interop boundary — real-Hudi 1.0 metadata-table
        # readers can be disabled via hoodie.metadata.enable=false).
        if table_version not in (6, 8):
            raise ValueError(f"table_version must be 6 or 8, got {table_version}")
        self.table_version = table_version
        # False = write no hoodie.table.metadata.partitions flag and no
        # LITE index deltas (README "Hudi metadata-index interop
        # boundary"): real-Hudi readers then need no
        # hoodie.metadata.enable=false escape hatch, and this engine's
        # source uses its timeline-replay + footer tiers
        self.metadata_indexes = metadata_indexes
        # "parquet" (default): engine-internal LITE per-commit parquet
        # deltas, which no engine reader reads. "hfile": REAL Hudi metadata-table layout — HFile base
        # files + per-commit delta log files + periodic compaction, with
        # real Hudi's hashed col-stats record keys (key_mode) — readable
        # by real Hudi AND by this engine's HFile read tier. See
        # targets/hudi_metadata_index.py.
        if metadata_index_format not in ("parquet", "hfile"):
            raise ValueError(
                f"metadata_index_format must be 'parquet' or 'hfile', "
                f"got {metadata_index_format!r}"
            )
        self.metadata_index_format = metadata_index_format
        self.metadata_index_key_mode = metadata_index_key_mode
        self.metadata_index_compact_every = metadata_index_compact_every
        # opt-in record-level index (real Hudi's RLI metadata partition,
        # beyond the reference): one record per data ROW keyed by this
        # field, sharded by Java-hashCode file groups. Data-scale — built
        # by a distributed scan of the commit's added/removed files, so
        # it is the one index whose maintenance reads data bytes.
        if record_index_field is not None and (
            metadata_index_format != "hfile" or not metadata_indexes
        ):
            raise ValueError(
                "record_index_field requires metadata_indexes=True and "
                "metadata_index_format='hfile' (the record index is a "
                "real-Hudi metadata partition)"
            )
        self.record_index_field = record_index_field
        self.record_index_shards = record_index_shards
        # opt-in bloom_filters metadata partition: a Hadoop-format SIMPLE
        # bloom per data file over record_index_field's values (the same
        # key source as the record index; also data-scale to build)
        if bloom_filters and record_index_field is None:
            raise ValueError(
                "bloom_filters requires record_index_field as the key source"
            )
        self.bloom_filters = bloom_filters
        # opt-in partition_stats metadata partition (Hudi 1.0's
        # partition-pruning index, beyond the reference): per-commit
        # delta aggregates per (partition, column) that accumulate via
        # the HoodieMetadataPayload stat combine — metadata-scale, built
        # from the commit's own column stats, no data bytes read
        if partition_stats and (metadata_index_format != "hfile" or not metadata_indexes):
            raise ValueError(
                "partition_stats requires metadata_indexes=True and "
                "metadata_index_format='hfile' (it is a real-Hudi "
                "metadata partition)"
            )
        self.partition_stats = partition_stats
        # opt-in secondary index (Hudi 1.0's secondary_index_idx_<field>
        # metadata partition, beyond the reference): one type-7 mapping
        # per (secondary value, record key), keyed per
        # SecondaryIndexKeyUtils, sharded so an equality lookup pins one
        # file group. Requires the record index (real Hudi's SI is built
        # on RLI-tracked record keys) — data-scale to maintain.
        if secondary_index_field is not None and record_index_field is None:
            raise ValueError(
                "secondary_index_field requires record_index_field (Hudi "
                "secondary indexes map secondary values to RLI record keys)"
            )
        if secondary_index_field is not None and secondary_index_field == record_index_field:
            raise ValueError(
                "secondary_index_field must differ from record_index_field "
                "(a secondary index on the record key is the record index)"
            )
        self.secondary_index_field = secondary_index_field
        self.secondary_index_shards = secondary_index_shards
        # CDC channel -> Hudi CDC supplemental blocks: incremental row
        # changes persist as CDC_DATA_BLOCK log files named by cdcStats
        # in the commit's write stats (the shape hoodie.table.cdc.enabled
        # writers produce and read_hudi_cdc's tier 1 reads), symmetric
        # with DeltaConversionTarget(change_feed=True)
        self.change_feed = change_feed
        self._reset()

    def _reset(self) -> None:
        self._table: Optional[InternalTable] = None
        self._schema: Optional[T.StructType] = None
        self._partition_cols: list[str] = []
        self._metadata_json: Optional[str] = None
        # driver rows: inventory Rows to add, paths of replaced files
        self._adds: Optional[list[dict]] = None
        self._replaced_paths: list[str] = []
        self._committed_instant: Optional[str] = None
        self._row_changes: Optional[DataFrame] = None

    def sync_row_changes(self, changes: DataFrame) -> None:
        """CDC channel: the commit's row-level changes (table columns +
        `_change_type`). Persisted as CDC supplemental blocks when this
        target was created with change_feed=True; ignored otherwise."""
        if self.change_feed:
            self._row_changes = changes

    # -- sync steps --------------------------------------------------------

    def begin_sync(self, table: InternalTable) -> None:
        self._reset()
        self._table = table
        os.makedirs(_hoodie_dir(self.base_path), exist_ok=True)
        self._ensure_properties(table)

    def _ensure_properties(self, table: InternalTable) -> None:
        """hoodie.properties — table config (HudiTableManager.java:1-179)."""
        from incubator_xtable_spark.sources.hudi_metadata import (
            COLUMN_STATS_PARTITION,
            FILES_PARTITION,
            METADATA_PARTITIONS_KEY,
        )

        props_path = os.path.join(_hoodie_dir(self.base_path), "hoodie.properties")
        if os.path.exists(props_path):
            # upgrade path: older tables created before the indexes existed
            # get the availability flags; their historical files are simply
            # uncovered (sources fall back to footers / timeline replay)
            from incubator_xtable_spark.sources.hudi_source import read_properties

            existing = read_properties(self.base_path)
            existing_version = int(existing.get("hoodie.table.version", "6"))
            if existing_version != self.table_version:
                raise ValueError(
                    f"table at {self.base_path} has hoodie.table.version="
                    f"{existing_version} but this target was constructed with "
                    f"table_version={self.table_version}; timeline-layout "
                    "migration is not a metadata-only operation — recreate the "
                    "target table or match the version"
                )
            parts = [p for p in (existing.get(METADATA_PARTITIONS_KEY) or "").split(",") if p]
            wanted = [COLUMN_STATS_PARTITION, FILES_PARTITION]
            if self.record_index_field is not None:
                from incubator_xtable_spark.targets.hudi_metadata_index import (
                    BLOOM_FILTERS_PARTITION,
                    RECORD_INDEX_PARTITION,
                )

                wanted.append(RECORD_INDEX_PARTITION)
                if self.bloom_filters:
                    wanted.append(BLOOM_FILTERS_PARTITION)
                if self.secondary_index_field is not None:
                    from incubator_xtable_spark.targets.hudi_metadata_index import (
                        secondary_index_partition_name,
                    )

                    wanted.append(
                        secondary_index_partition_name(self.secondary_index_field)
                    )
            if self.partition_stats:
                from incubator_xtable_spark.targets.hudi_metadata_index import (
                    PARTITION_STATS_PARTITION,
                )

                wanted.append(PARTITION_STATS_PARTITION)
            missing = [p for p in wanted if p not in parts]
            if missing and self.metadata_indexes:
                with open(props_path, "a", encoding="utf-8") as fh:
                    fh.write(
                        f"{METADATA_PARTITIONS_KEY}=" + ",".join(parts + missing) + "\n"
                    )
            if self.change_feed and existing.get("hoodie.table.cdc.enabled") != "true":
                with open(props_path, "a", encoding="utf-8") as fh:
                    fh.write("hoodie.table.cdc.enabled=true\n")
                    fh.write("hoodie.table.cdc.supplemental.logging.mode=data_before_after\n")
            return
        name = self.table_name or table.name
        part_cols = ",".join(pf.output_name for pf in table.partition_fields)
        props = {
            "hoodie.table.name": name,
            "hoodie.table.type": "COPY_ON_WRITE",
            "hoodie.table.version": str(self.table_version),
            "hoodie.timeline.layout.version": "2" if self.table_version >= 8 else "1",
            "hoodie.table.base.file.format": "PARQUET",
            "hoodie.populate.meta.fields": "false",
            "hoodie.table.partition.fields": part_cols,
            "hoodie.datasource.write.drop.partition.columns": "false",
            "hoodie.table.checksum": "0",
        }
        if self.table_version >= 8:
            # Hudi 1.0 declares the active-timeline location explicitly
            props["hoodie.timeline.path"] = "timeline"
        if self.metadata_indexes:
            props[METADATA_PARTITIONS_KEY] = f"{COLUMN_STATS_PARTITION},{FILES_PARTITION}"
            if self.record_index_field is not None:
                from incubator_xtable_spark.targets.hudi_metadata_index import (
                    BLOOM_FILTERS_PARTITION,
                    RECORD_INDEX_PARTITION,
                )

                props[METADATA_PARTITIONS_KEY] += f",{RECORD_INDEX_PARTITION}"
                if self.bloom_filters:
                    props[METADATA_PARTITIONS_KEY] += f",{BLOOM_FILTERS_PARTITION}"
                if self.secondary_index_field is not None:
                    from incubator_xtable_spark.targets.hudi_metadata_index import (
                        secondary_index_partition_name,
                    )

                    props[METADATA_PARTITIONS_KEY] += (
                        "," + secondary_index_partition_name(self.secondary_index_field)
                    )
            if self.partition_stats:
                from incubator_xtable_spark.targets.hudi_metadata_index import (
                    PARTITION_STATS_PARTITION,
                )

                props[METADATA_PARTITIONS_KEY] += f",{PARTITION_STATS_PARTITION}"
        if self.change_feed:
            props["hoodie.table.cdc.enabled"] = "true"
            props["hoodie.table.cdc.supplemental.logging.mode"] = "data_before_after"
        with open(props_path, "w", encoding="utf-8") as fh:
            fh.write("#Updated at " + instant_now() + "\n")
            for k, v in sorted(props.items()):
                fh.write(f"{k}={v}\n")

    def sync_schema(self, schema: T.StructType) -> None:
        self._schema = schema

    def sync_partition_spec(self, partition_fields: list) -> None:
        self._partition_cols = [
            pf if isinstance(pf, str) else pf.output_name for pf in partition_fields
        ]

    def sync_metadata(self, metadata: TableSyncMetadata) -> None:
        self._metadata_json = metadata.to_json()

    def sync_files_for_snapshot(self, files: Any) -> None:
        """Snapshot-as-diff against the target's current live files
        (hudi/BaseFileUpdatesExtractor.java:89-133)."""
        from incubator_xtable_spark.sources.hudi_source import live_files_rows

        self._adds, replaced = files_diff(
            table_rows(files),
            live_files_rows(self.base_path),
            self.base_path,
            lambda r: r["physical_path"],
            lambda r: r["path"],
        )
        self._replaced_paths = [r["path"] for r in replaced]

    def sync_files_for_diff(self, change: TableChange) -> None:
        self._adds = table_rows(change.files_added)
        self._replaced_paths = [r["physical_path"] for r in table_rows(change.files_removed)]

    def _avro_schema_with_ids(self) -> str:
        """Commit-metadata schema string: an AVRO record schema (what real
        Hudi writes) carrying the hudi_id_tracking property — field ids
        stay STABLE across commits by reusing the previous completed
        commit's tracking (IdTracker.java:121-196 analog; see
        model/hudi_ids.py)."""
        from incubator_xtable_spark.model.hudi_ids import (
            add_id_tracking,
            generate_id_tracking,
            read_id_tracking,
            spark_to_avro,
        )

        prev_tracking = None
        for instant, action in reversed(list_completed_instants(self.base_path)):
            raw = (read_commit_metadata(self.base_path, instant, action).get("extraMetadata") or {}).get(
                "schema"
            )
            if raw:
                parsed = json.loads(raw)
                if isinstance(parsed, dict) and parsed.get("type") == "record":
                    prev_tracking = read_id_tracking(parsed)
                break
        avro = spark_to_avro(self._schema, name=self.table_name or "record")
        tracking = generate_id_tracking(avro, prev_tracking)
        return json.dumps(add_id_tracking(avro, tracking))

    def complete_sync(self) -> str:
        if self._schema is None and self._table is not None:
            self._schema = self._table.read_schema
        instant = instant_now()
        # monotonic guard: never reuse/step behind the last instant.
        # Increment via epoch math, not string +1 — an instant ending in
        # ...59999 would roll to second=60 and strptime would reject it.
        existing = list_completed_instants(self.base_path)
        if existing and instant <= existing[-1][0]:
            instant = epoch_ms_to_instant(instant_to_epoch_ms(existing[-1][0]) + 1)

        has_replacements = bool(self._replaced_paths)
        action = REPLACE_ACTION if has_replacements else COMMIT_ACTION

        hfile_mode = self.metadata_indexes and self.metadata_index_format == "hfile"
        # the index writers take the same per-file rows as the write stats
        index_adds: list[dict] = []
        partition_to_stats: dict[str, list[dict]] = {}
        if self._adds is not None:
            for row in self._adds:
                if (row["file_format"] or "PARQUET").upper() != "PARQUET":
                    # hoodie.table.base.file.format is PARQUET table-wide
                    raise NotImplementedError(
                        f"Hudi target: data file {row['physical_path']!r} has "
                        f"format {row['file_format']}; the target declares a "
                        "PARQUET base file format"
                    )
                rel = relativize(row["physical_path"], self.base_path)
                partition = os.path.dirname(rel)
                stats = {
                    "fileId": file_id_of(rel),
                    "path": rel,
                    "prevCommit": "null",
                    "numWrites": row["record_count"] or 0,
                    "numInserts": row["record_count"] or 0,
                    "totalWriteBytes": row["size_bytes"],
                    "fileSizeInBytes": row["size_bytes"],
                    "partitionPath": partition,
                }
                partition_to_stats.setdefault(partition, []).append(stats)
                index_adds.append(
                    {
                        "rel_path": rel,
                        "size_bytes": row["size_bytes"],
                        "record_count": row["record_count"],
                        "column_stats": row["column_stats"],
                    }
                )

        partition_to_replaced: dict[str, list[str]] = {}
        index_removed: list[str] = []
        for path in self._replaced_paths:
            rel = relativize(path, self.base_path)
            partition_to_replaced.setdefault(os.path.dirname(rel), []).append(file_id_of(rel))
            index_removed.append(rel)

        # maintain the col-stats index BEFORE completing the instant (the
        # write-client posture: an orphan index delta from a crashed commit
        # is harmless — readers only look up files the timeline says live)
        if hfile_mode:
            from incubator_xtable_spark.targets.hudi_metadata_index import (
                write_hfile_index_commit,
            )

            extra_stats = []
            if self.record_index_field is not None:
                from incubator_xtable_spark.targets.hudi_metadata_index import (
                    write_record_index_commit,
                )

                extra_stats = write_record_index_commit(
                    self.spark,
                    self.base_path,
                    instant,
                    [a["rel_path"] for a in index_adds],
                    index_removed,
                    self.record_index_field,
                    num_shards=self.record_index_shards,
                    compact_every=self.metadata_index_compact_every,
                )
                if self.bloom_filters:
                    from incubator_xtable_spark.targets.hudi_metadata_index import (
                        write_bloom_filters_commit,
                    )

                    extra_stats = extra_stats + write_bloom_filters_commit(
                        self.spark,
                        self.base_path,
                        instant,
                        [a["rel_path"] for a in index_adds],
                        index_removed,
                        self.record_index_field,
                        compact_every=self.metadata_index_compact_every,
                    )
                if self.secondary_index_field is not None:
                    from incubator_xtable_spark.targets.hudi_metadata_index import (
                        write_secondary_index_commit,
                    )

                    extra_stats = extra_stats + write_secondary_index_commit(
                        self.spark,
                        self.base_path,
                        instant,
                        [a["rel_path"] for a in index_adds],
                        index_removed,
                        self.record_index_field,
                        self.secondary_index_field,
                        num_shards=self.secondary_index_shards,
                        compact_every=self.metadata_index_compact_every,
                    )
            if self.partition_stats:
                from incubator_xtable_spark.targets.hudi_metadata_index import (
                    write_partition_stats_commit,
                )

                extra_stats = extra_stats + write_partition_stats_commit(
                    self.base_path,
                    instant,
                    index_adds,
                    index_removed,
                    self._schema,
                    compact_every=self.metadata_index_compact_every,
                    key_mode=self.metadata_index_key_mode,
                )
            write_hfile_index_commit(
                self.base_path,
                instant,
                index_adds,
                index_removed,
                self._schema,
                self.table_name or (self._table.name if self._table else "table"),
                key_mode=self.metadata_index_key_mode,
                compact_every=self.metadata_index_compact_every,
                extra_stats=extra_stats,
            )
        elif self.metadata_indexes:
            from incubator_xtable_spark.sources.hudi_metadata import (
                write_col_stats_delta_rows,
                write_files_delta_rows,
            )

            removed_rels = index_removed if has_replacements else None
            write_col_stats_delta_rows(
                index_adds if self._adds is not None else None,
                removed_rels,
                self.base_path,
                instant,
            )
            write_files_delta_rows(
                index_adds if self._adds is not None else None,
                removed_rels,
                self.base_path,
                instant,
            )

        # CDC channel -> CDC supplemental block file + cdcStats on a write
        # stat (read_hudi_cdc tier 1 locates CDC files exclusively through
        # cdcStats, as does Hudi's own CDC extractor). Commits without
        # write stats carry no CDC file — in this engine's flows a
        # row-changing commit always re-adds files (COW shadows), so an
        # empty-stats commit has an empty change set anyway.
        if (
            self.change_feed
            and self._row_changes is not None
            and partition_to_stats
        ):
            self._write_cdc_supplement(instant, partition_to_stats)

        extra = {"schema": self._avro_schema_with_ids() if self._schema else None}
        if self._metadata_json is not None:
            extra[XTABLE_METADATA_KEY] = self._metadata_json
        meta: dict = {
            "partitionToWriteStats": partition_to_stats,
            "compacted": False,
            "extraMetadata": extra,
            "operationType": "INSERT_OVERWRITE" if has_replacements else "INSERT",
        }
        if has_replacements:
            meta["partitionToReplaceFileIds"] = partition_to_replaced

        self._write_instant_lifecycle(instant, action, meta)
        self._committed_instant = instant
        return instant

    # -- helpers -----------------------------------------------------------

    def _write_cdc_supplement(
        self, instant: str, partition_to_stats: dict[str, list[dict]]
    ) -> None:
        """Persist the commit's CDC-channel rows as ONE CDC_DATA_BLOCK
        log file and name it in the first write stat's cdcStats.

        Record shape mirrors Hudi's data_before_after logging mode
        ({op: i|u|d, before, after}); update preimage/postimage pairs
        re-pair on the record key (same convention as read_hudi_cdc:
        hoodie.table.recordkey.fields, else the first schema field).
        Driver-side and bounded by the commit's change volume — the
        CDC block posture of the log codec. Timestamps/dates normalize
        to their Avro logical-type representation; decimals encode as
        the Avro decimal logical type (model/avro_codec)."""
        import datetime as _dt

        from incubator_xtable_spark.sources.hudi_log import write_cdc_log_file

        schema = self._schema
        cols = [f.name for f in schema.fields]
        from incubator_xtable_spark.sources.hudi_source import read_properties

        props = read_properties(self.base_path)
        key = (props.get("hoodie.table.recordkey.fields") or cols[0]).split(",")[0]

        def _norm(v, dt):
            if v is None:
                return None
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                base = v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v
                return int(
                    (base - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
                )
            if isinstance(dt, T.DateType):
                return (v - _dt.date(1970, 1, 1)).days
            return v

        types = {f.name: f.dataType for f in schema.fields}

        def _row(r) -> dict:
            return {c: _norm(r[c], types[c]) for c in cols}

        pre: dict = {}
        post: dict = {}
        records: list[dict] = []
        for r in self._row_changes.collect():
            ct = r["_change_type"]
            row = _row(r)
            if ct == "insert":
                records.append({"op": "i", "before": None, "after": row})
            elif ct == "delete":
                records.append({"op": "d", "before": row, "after": None})
            elif ct == "update_preimage":
                pre[row.get(key)] = row
            elif ct == "update_postimage":
                post[row.get(key)] = row
        for k, p in pre.items():
            records.append({"op": "u", "before": p, "after": post.get(k)})
        for k, p in post.items():
            if k not in pre:
                records.append({"op": "u", "before": None, "after": p})
        if not records:
            return
        rel = f".cdc-{instant}.log.1_0-0-0.cdc"
        size = write_cdc_log_file(
            os.path.join(self.base_path, rel),
            instant,
            self._avro_schema_with_ids(),
            records,
        )
        first_partition = next(iter(partition_to_stats))
        partition_to_stats[first_partition][0]["cdcStats"] = {rel: size}

    def _write_instant_lifecycle(self, instant: str, action: str, meta: dict) -> None:
        """requested -> inflight -> completed, completed written atomically
        (put-if-absent via hard link, like the Delta target). Table
        version 8 writes under `.hoodie/timeline/` with the completion
        time embedded in the completed filename (Hudi 1.0 naming); the
        put-if-absent race check then keys on the instant (any completed
        file for it), since two writers would embed different completion
        times."""
        if self.table_version >= 8:
            d = os.path.join(_hoodie_dir(self.base_path), "timeline")
            os.makedirs(d, exist_ok=True)
        else:
            d = _hoodie_dir(self.base_path)
        # real-Hudi timeline naming: the commit action's inflight marker
        # is the bare "<instant>.inflight" (HoodieTimeline special-cases
        # commits); other actions use "<instant>.<action>.inflight"
        inflight = "inflight" if action == COMMIT_ACTION else f"{action}.inflight"
        for suffix in (f"{action}.requested", inflight):
            open(os.path.join(d, f"{instant}.{suffix}"), "w", encoding="utf-8").close()
        if self.table_version >= 8:
            if completed_instant_file(self.base_path, instant, action) is not None:
                raise RuntimeError(f"concurrent Hudi commit at instant {instant}")
            final = os.path.join(d, f"{instant}_{instant_now()}.{action}")
        else:
            final = os.path.join(d, f"{instant}.{action}")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(meta, fh, sort_keys=True)
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise RuntimeError(f"concurrent Hudi commit at instant {instant}") from exc
        finally:
            os.unlink(tmp)

    def get_table_metadata(self) -> Optional[TableSyncMetadata]:
        for instant, action in reversed(list_completed_instants(self.base_path)):
            meta = read_commit_metadata(self.base_path, instant, action)
            raw = (meta.get("extraMetadata") or {}).get(XTABLE_METADATA_KEY)
            if raw:
                return TableSyncMetadata.from_json(raw)
        return None

    def get_target_commit_identifier(self) -> Optional[str]:
        return self._committed_instant
