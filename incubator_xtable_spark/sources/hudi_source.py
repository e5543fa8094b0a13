"""Hudi (copy-on-write) conversion source: reads the `.hoodie/` timeline
and reconstructs snapshots / per-commit change sets.

Reference parity:
- snapshot via fs-view             hudi/HudiConversionSource.java:96-122,
                                   hudi/HudiDataFileExtractor.java:102-126
  (file-group resolution: latest base file per fileId at/ before the
  instant — replaced groups excluded)
- commit diff                      hudi/HudiConversionSource.java:125-139
- commits backlog merge            hudi/HudiConversionSource.java:240-338
- incremental-safety check         hudi/HudiConversionSource.java:164-215
- schema extraction (drop _hoodie_* meta fields)
                                   hudi/HudiTableExtractor.java,
                                   hudi/HudiSchemaExtractor.java
- instant format                   hudi/HudiInstantUtils.java:42-80
- two-tier file stats (metadata-table col_stats index first, parquet
  footers for uncovered files)     hudi/HudiFileStatsExtractor.java:99-186
  (see sources/hudi_metadata.py)

The timeline, the metadata-table indexes and the parquet footers are
metadata-sized, so the snapshot and change inventories are built on the
driver (as the reference's timeline and metadata-table reads are) and
run no Spark job. Only MOR compaction shadows and the CDC derivation,
which read data files, are Spark work.
"""

from __future__ import annotations

import json
import os
import re
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_xtable_spark.model.core import (
    CommitsBacklog,
    DataLayoutStrategy,
    FILE_INVENTORY_ARROW,
    InstantsForIncrementalSync,
    InternalPartitionField,
    InternalSnapshot,
    InternalTable,
    TableChange,
    TableFormat,
    arrow_table,
)
from incubator_xtable_spark.model.file_formats import APACHE_ORC, PARQUET, from_extension
from incubator_xtable_spark.model.files_diff import relativize
from incubator_xtable_spark.model.hive_partitions import partition_values
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata, XTABLE_METADATA_KEY
from incubator_xtable_spark.sources.change_plan import (
    HUDI_CDC_LOG,
    ChangeFile,
    ChangePlan,
    change_schema,
    read_changes,
)
from incubator_xtable_spark.targets.hudi_target import (
    HOODIE_DIR,
    instant_to_epoch_ms,
    list_completed_instants,
    read_commit_metadata,
)

# a Hudi base-file name's embedded write instant (<fileId>_<token>_<instant>.<ext>)
_NAME_INSTANT = re.compile(r"_([0-9]{14,17})\.[A-Za-z][^.]*$")

HOODIE_META_FIELDS = (
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
)


def read_properties(base_path: str) -> dict[str, str]:
    props_path = os.path.join(base_path, HOODIE_DIR, "hoodie.properties")
    out: dict[str, str] = {}
    if not os.path.exists(props_path):
        return out
    with open(props_path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            k, _, v = line.partition("=")
            out[k] = v
    return out


def _archived_commits(base_path: str) -> list[tuple[str, str, dict]]:
    """Replay-able archived instants ([(instant, action, metadata)]) from
    `.hoodie/archived/commits.archive` (see sync/retention.py)."""
    p = os.path.join(base_path, HOODIE_DIR, "archived", "commits.archive")
    if not os.path.exists(p):
        return []
    out = []
    with open(p, encoding="utf-8") as fh:
        for line in fh:
            d = json.loads(line)
            out.append((d["instant"], d["action"], d["metadata"]))
    return sorted(out)


def _epoch_ms(instant: str) -> Optional[int]:
    try:
        return instant_to_epoch_ms(instant)
    except ValueError:
        return None


def is_log_file(path: str) -> bool:
    """Hudi MOR log file (`.{fileId}_{baseInstant}.log.{v}_{token}`)."""
    return ".log." in os.path.basename(path)


def group_key(row: dict) -> tuple[str, str]:
    """A file group's identity: (partitionPath, fileId), as Hudi's
    HoodieFileGroupId — a fileId is unique only within its partition."""
    return row["partitionPath"], row["fileId"]


def _commit_groups(meta: dict) -> tuple[list[tuple[str, str]], list[tuple[tuple[str, str], dict]]]:
    """(replaced group keys, [(group key, write stat)]) of one commit's
    metadata."""
    replaced = [
        (partition, fid)
        for partition, fids in (meta.get("partitionToReplaceFileIds") or {}).items()
        for fid in fids
    ]
    written = [
        ((partition, st["fileId"]), st)
        for partition, stats in (meta.get("partitionToWriteStats") or {}).items()
        for st in stats
    ]
    return replaced, written


def _apply_commit(groups: dict[tuple, dict], instant: str, meta: dict) -> None:
    """File-slice resolution for one commit, mirroring the reference
    fs-view (hudi/HudiDataFileExtractor.java:128-345): a replaced file
    group drops whole; a BASE file write starts a new slice for the
    group (log files of the old slice compact away); a LOG file write
    appends to the group's current slice."""
    replaced, written = _commit_groups(meta)
    for key in replaced:
        groups.pop(key, None)
    for key, st in written:
        partition, fid = key
        if is_log_file(st["path"]):
            grp = groups.setdefault(
                key,
                # log-only file group (insert into MOR log before any
                # base file exists): tracked, but exposes no base file
                {
                    "path": None,
                    "partitionPath": partition,
                    "fileId": fid,
                    "size": 0,
                    "numWrites": None,
                    "instant": instant,
                    "log_files": [],
                },
            )
            grp.setdefault("log_files", []).append(st["path"])
        else:
            groups[key] = {
                "path": st["path"],
                "partitionPath": partition,
                "fileId": fid,
                "size": st.get("fileSizeInBytes", 0),
                "numWrites": st.get("numWrites"),
                "instant": instant,
                "log_files": [],  # new base file = new slice
            }


def live_files_rows(
    base_path: str, as_of_instant: Optional[str] = None, include_log_only: bool = False
) -> list[dict]:
    """File-group resolution over the timeline (archived log first, then
    the active timeline): walk commits in order, latest base file per
    file group wins, replaced groups drop out, MOR log files attach to
    their slice. Returns [{path, partitionPath, fileId, size, instant,
    log_files}] (relative paths) — the READ-OPTIMIZED view (base files),
    matching the reference's getLatestBaseFiles conversion scope."""
    groups: dict[tuple, dict] = {}  # group_key -> latest slice info
    for instant, action, meta in _archived_commits(base_path):
        if as_of_instant is not None and instant > as_of_instant:
            break
        _apply_commit(groups, instant, meta)
    for instant, action in list_completed_instants(base_path):
        if as_of_instant is not None and instant > as_of_instant:
            break
        _apply_commit(groups, instant, read_commit_metadata(base_path, instant, action))
    rows = [
        g for g in groups.values() if g["path"] is not None or include_log_only
    ]
    return sorted(rows, key=lambda r: (r["path"] is None, r["path"] or "", r["fileId"]))


def file_liveness_intervals(base_path: str) -> list[tuple]:
    """ONE ordered timeline replay -> per-path liveness intervals
    ``[(path, add_instant, remove_instant)]`` (remove_instant None while
    live at head; log files inherit their slice's lifecycle — attaching
    at their write instant, dropping when the slice is superseded by a
    new base file or the fileId is replaced). The as-of view at instant
    ``i`` is exactly ``{p : add <= i and (remove is None or remove > i)}``
    — pinned against live_files_rows by test. Lets maintenance
    (hudi_clean) resolve EVERY retained/savepointed view in one pass:
    O(timeline + files) total instead of one full replay per retained
    instant (O(retained x timeline) — the r12 watch item)."""
    current: dict[tuple, dict] = {}  # group_key -> {path, add, logs:{path: add}}
    out: list[tuple] = []

    def _close_group(key: tuple, instant: str) -> None:
        g = current.pop(key, None)
        if g is None:
            return
        if g["path"] is not None:
            out.append((g["path"], g["add"], instant))
        for lp, la in g["logs"].items():
            out.append((lp, la, instant))

    def _apply(instant: str, meta: dict) -> None:
        replaced, written = _commit_groups(meta)
        for key in replaced:
            _close_group(key, instant)
        for key, st in written:
            if is_log_file(st["path"]):
                g = current.setdefault(key, {"path": None, "add": instant, "logs": {}})
                g["logs"].setdefault(st["path"], instant)
            else:
                _close_group(key, instant)  # new base file = new slice
                current[key] = {"path": st["path"], "add": instant, "logs": {}}

    for instant, _action, meta in _archived_commits(base_path):
        _apply(instant, meta)
    for instant, action in list_completed_instants(base_path):
        _apply(instant, read_commit_metadata(base_path, instant, action))
    for g in current.values():
        if g["path"] is not None:
            out.append((g["path"], g["add"], None))
        for lp, la in g["logs"].items():
            out.append((lp, la, None))
    return out


def materialize_mor_shadows(
    spark: SparkSession,
    base_path: str,
    log_rows: list[dict],
    table: InternalTable,
    as_of: Optional[str] = None,
) -> dict[str, dict]:
    """Materialize log-bearing MOR slices as compaction shadows:
    base-file rows minus upserted/deleted keys plus the log tail's final
    row versions — the same result real Hudi compaction produces, here
    computed by the conversion engine so snapshot-view syncs can hand
    targets plain parquet.

    Shadow paths are deterministic (slice stem + md5 of the log-file
    list), so materialization is idempotent across syncs and as-of
    states. Returns {group_key: {path(rel), size}} for slices whose
    effective representation is a shadow; slices whose logs merge to a
    no-op keep their base file and are absent from the result.

    Scale: the log tail decodes driver-side (metadata-sized, same
    posture as the read path's merge — blocks hold the RECENT mutations,
    not the table); the base-file bytes rewrite executor-side, one
    mapInPandas task per affected slice, no shuffle. A 10k-slice table
    with 100 log-bearing slices rewrites exactly those 100 files."""
    import glob as _glob
    import hashlib
    import json as _json
    import pickle as _pickle
    import shutil as _shutil

    from incubator_xtable_spark.sources.hudi_log import merged_log_records_with_boundary

    props = read_properties(base_path)
    key_field = (
        props.get("hoodie.table.recordkey.fields") or table.read_schema.fields[0].name
    ).split(",")[0]
    data_cols = [f.name for f in table.read_schema.fields]
    plan_rows: list[tuple] = []
    out: dict[str, dict] = {}
    for r in log_rows:
        logs = [os.path.join(base_path, lf) for lf in r["log_files"]]
        # as-of bounded: Hudi appends later commits' blocks to the SAME
        # log files, so the merge (and the shadow identity) must only
        # see blocks up to the requested instant
        upserts, deleted, boundary = merged_log_records_with_boundary(
            spark, logs, key_field, max_instant=as_of
        )
        if not upserts and not deleted and r["path"] is not None:
            continue  # no-op log tail: the base file IS the snapshot view
        tag = hashlib.md5(
            ("|".join(sorted(r["log_files"])) + "|" + boundary).encode()
        ).hexdigest()[:8]
        if r["path"]:
            stem = r["path"][: -len(".parquet")] if r["path"].endswith(".parquet") else r["path"]
        else:  # log-only slice: shadow sits beside its logs
            part_dir = os.path.dirname(r["log_files"][0])
            stem = os.path.join(part_dir, r["fileId"]) if part_dir else r["fileId"]
        shadow_rel = f"{stem}.compacted-{tag}.parquet"
        plan_rows.append(
            (
                os.path.join(base_path, r["path"]) if r["path"] else None,
                os.path.join(base_path, shadow_rel),
                _json.dumps(sorted({str(k) for k in upserts} | {str(k) for k in deleted})),
                # pickle, NOT json: parquet log blocks decode to typed
                # Python values (bytes, Decimal, date/datetime) that JSON
                # cannot represent — bytes would not even round-trip
                _pickle.dumps(
                    [{c: rec.get(c) for c in data_cols} for rec in upserts.values()]
                ),
            )
        )
        out[group_key(r)] = {"path": shadow_rel}
    todo = [p for p in plan_rows if not os.path.exists(p[1])]
    if todo:
        # schema probe for log-only slices: one empty parquet carrying the
        # table schema, readable by every executor task
        probe = os.path.join(base_path, ".hoodie", ".xtable_schema_probe.parquet")
        if any(p[0] is None for p in todo) and not os.path.exists(probe):
            tmp = probe + ".tmpdir"
            spark.createDataFrame([], table.read_schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            os.replace(_glob.glob(os.path.join(tmp, "part-*.parquet"))[0], probe)
            _shutil.rmtree(tmp, ignore_errors=True)
        plan = spark.createDataFrame(
            todo, "base STRING, shadow STRING, drop_keys STRING, upserts BINARY"
        )

        def _compact(batches):
            import json as _j
            import os as _os
            import pickle as _p

            import pandas as pd
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            for pdf in batches:
                for base, shadow, dk, us in zip(
                    pdf["base"], pdf["shadow"], pdf["drop_keys"], pdf["upserts"]
                ):
                    if _os.path.exists(shadow):
                        continue
                    t = _pq.read_table(base if base is not None else probe)
                    drop = set(_j.loads(dk))
                    if drop:
                        keys = t.column(key_field).to_pylist()
                        keep = [i for i, k in enumerate(keys) if str(k) not in drop]
                        t = t.take(_pa.array(keep, type=_pa.int64()))
                    ups = _p.loads(bytes(us))
                    if ups:
                        add = _pa.Table.from_pylist(ups, schema=_pa.schema(
                            [t.schema.field(c) for c in data_cols]
                        ))
                        # base files may carry extra (e.g. _hoodie_*) columns;
                        # appended rows hold them as nulls
                        for name in t.column_names:
                            if name not in data_cols:
                                add = add.append_column(
                                    t.schema.field(name),
                                    _pa.nulls(len(ups), t.schema.field(name).type),
                                )
                        t = _pa.concat_tables([t, add.select(t.column_names)])
                    tmp = shadow + f".tmp-{_os.getpid()}"
                    _pq.write_table(t, tmp)
                    _os.replace(tmp, shadow)
                yield pd.DataFrame({"n": [len(pdf)]})

        plan.repartition(max(1, len(todo))).mapInPandas(_compact, "n LONG").count()
    for info in out.values():
        info["size"] = os.path.getsize(os.path.join(base_path, info["path"]))
    return out


class HudiConversionSource:
    """ConversionSource over a Hudi COW or MOR table.

    ``view`` (MOR only):
    - "read_optimized" (default): latest base files per slice — the
      reference's conversion scope (getLatestBaseFiles).
    - "snapshot": log-bearing slices materialize as compaction shadows
      (base + merged log tail, see materialize_mor_shadows), so targets
      see the real-time view including un-compacted upserts/deletes —
      beyond the reference, which always syncs read-optimized. Effective
      paths differ between views, so flipping forces a FULL restatement
      (sync_view rides the bookmark).
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        name: Optional[str] = None,
        view: str = "read_optimized",
        emit_row_changes: bool = False,
    ) -> None:
        if view not in ("read_optimized", "snapshot"):
            raise ValueError(f"unsupported hudi view: {view}")
        self.view = view
        # CDC channel: attach each commit's CDC read to the TableChange
        self.emit_row_changes = emit_row_changes
        # bookmark tag: non-default views force FULL on flip (controller)
        self.sync_view = view if view != "read_optimized" else None
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.name = name or os.path.basename(self.base_path)

    # -- table -------------------------------------------------------------

    def get_current_table(self) -> Optional[InternalTable]:
        instants = list_completed_instants(self.base_path)
        if not instants:
            return None
        props = read_properties(self.base_path)
        schema = self._read_schema(instants)
        part_fields = [
            InternalPartitionField(source_field=c)
            for c in (props.get("hoodie.table.partition.fields") or "").split(",")
            if c
        ]
        return InternalTable(
            name=props.get("hoodie.table.name", self.name),
            table_format=TableFormat.HUDI,
            base_path=self.base_path,
            read_schema=schema,
            partition_fields=part_fields,
            layout_strategy=(
                DataLayoutStrategy.HIVE_STYLE_PARTITION
                if part_fields
                else DataLayoutStrategy.FLAT
            ),
            latest_metadata_path=os.path.join(self.base_path, HOODIE_DIR),
        )

    def _read_schema(self, instants: list[tuple[str, str]]) -> T.StructType:
        """Schema from the newest commit's extraMetadata, else from a live
        parquet footer; the five _hoodie_* meta fields are dropped
        (HudiSchemaExtractor semantics)."""
        schema = commit_schema(self.base_path, instants)
        if schema is not None:
            return T.StructType([f for f in schema.fields if f.name not in HOODIE_META_FIELDS])
        rows = live_files_rows(self.base_path)
        if not rows:
            return T.StructType([])
        sample = os.path.join(self.base_path, rows[-1]["path"])
        schema = self.spark.read.parquet(sample).schema
        return T.StructType([f for f in schema.fields if f.name not in HOODIE_META_FIELDS])

    # -- snapshot ----------------------------------------------------------

    def get_current_snapshot(self, with_stats: bool = True) -> InternalSnapshot:
        table = self.get_current_table()
        if table is None:
            raise ValueError(f"not a hudi table: {self.base_path}")
        instants = list_completed_instants(self.base_path)
        latest = instants[-1][0]
        if self.view == "snapshot":
            # snapshot view bypasses the files index (it lists base
            # files, not compaction shadows) and swaps log-bearing
            # slices for their materialized shadows
            rows = self._effective_rows(latest, table)
            return InternalSnapshot(
                table=table,
                version=latest,
                files=self._to_inventory(rows, table, with_stats),
            )
        files = self._indexed_listing(table, latest, with_stats)
        if files is None:
            rows = live_files_rows(self.base_path, latest)
            files = self._to_inventory(rows, table, with_stats)
        return InternalSnapshot(table=table, version=latest, files=files)

    def _effective_rows(
        self, as_of: str, table: InternalTable, only_groups: Optional[set] = None
    ) -> list[dict]:
        """Snapshot-view file rows at ``as_of``: base files as-is for
        log-free slices, compaction shadows for log-bearing ones
        (including log-only slices, which have no base file at all).
        ``only_groups`` (group keys) restricts BOTH the listing and the
        shadow materialization — a CDC read of a 2-slice commit must not
        compact the table's other 998 log-bearing slices."""
        rows = live_files_rows(self.base_path, as_of, include_log_only=True)
        if only_groups is not None:
            rows = [r for r in rows if group_key(r) in only_groups]
        log_rows = [r for r in rows if r.get("log_files")]
        shadows = (
            materialize_mor_shadows(
                self.spark, self.base_path, log_rows, table, as_of=as_of
            )
            if log_rows
            else {}
        )
        eff = []
        for r in rows:
            s = shadows.get(group_key(r))
            if s is not None:
                eff.append(dict(r, path=s["path"], size=s["size"]))
            elif r["path"] is not None:
                eff.append(r)
        return eff

    def _indexed_listing(
        self, table: InternalTable, latest: str, with_stats: bool
    ) -> Optional[pa.Table]:
        """The live-file listing from the metadata table's `files`
        partition — HFile base files plus their logs, decoded on the
        driver — when it covers the head instant: the reference's primary
        listing path (ref hudi/HudiDataFileExtractor.java:102-126; readers
        gate on hoodie.table.metadata.partitions). Returns None to fall
        back to the timeline replay: no decodable HFile slices (the
        engine's LITE parquet deltas are not read), or an index lagging
        the head.

        The index records carry no per-file commit instant, but Hudi
        base-file NAMES embed their write instant
        (<fileId>_<token>_<instant>.<ext>): last_modified_ms comes from
        it, so inventory timestamps agree with the timeline replay; names
        that don't parse (foreign layouts) take the index head instant."""
        from incubator_xtable_spark.sources.hudi_metadata import (
            hfile_files_available,
            hfile_files_head_instant,
            hfile_files_listing,
        )

        if not hfile_files_available(self.base_path):
            return None
        head = hfile_files_head_instant(self.base_path)
        if head != latest:
            return None
        head_ms = _epoch_ms(head)
        if head_ms is None:
            # an unparseable head instant (legacy 14-digit or foreign
            # format) has no honest fallback timestamp — serve the
            # listing from timeline replay instead of epoch-0 rows
            return None
        listing = []
        for part, name, size in hfile_files_listing(self.base_path):
            m = _NAME_INSTANT.search(name)
            listing.append(
                (
                    os.path.join(self.base_path, part, name),
                    size,
                    (m and _epoch_ms(m.group(1))) or head_ms,
                )
            )
        return self._listing_to_inventory(listing, table, with_stats)

    def _to_inventory(self, rows: list[dict], table: InternalTable, with_stats: bool) -> pa.Table:
        listing = [
            (
                os.path.join(self.base_path, r["path"]),
                int(r["size"]),
                instant_to_epoch_ms(r["instant"]),
            )
            for r in rows
        ]
        return self._listing_to_inventory(listing, table, with_stats)

    def _listing_to_inventory(
        self, listing: list[tuple[str, int, int]], table: InternalTable, with_stats: bool
    ) -> pa.Table:
        """A driver listing [(physical_path, size_bytes, last_modified_ms)]
        with its stats and partition values, as an inventory table.

        Stats (HudiFileStatsExtractor.java:99-186): the REAL-Hudi HFile
        column_stats index first (decoded directly, no Hudi/HBase jars),
        parquet footers for uncovered files and unindexed tables.
        Partition values are parsed from each path
        (``model/hive_partitions``). The base-file format comes from
        hoodie.properties (real Hudi supports HFILE/ORC base files too);
        the extension wins per file, and an unsupported table format
        refuses loudly instead of mis-tagging (ref model/storage/FileFormat)."""
        from incubator_xtable_spark.sources.hudi_metadata import (
            hfile_col_stats_available,
            stats_with_hfile_tier,
        )
        from incubator_xtable_spark.sources.parquet_source import data_schema, footer_stat_rows

        if not listing:
            return FILE_INVENTORY_ARROW.empty_table()
        declared = (
            read_properties(self.base_path).get("hoodie.table.base.file.format")
            or "PARQUET"
        ).upper()
        if declared not in ("PARQUET", "ORC"):
            raise NotImplementedError(
                f"Hudi base file format {declared} is not supported (PARQUET/ORC)"
            )
        default_fmt = PARQUET if declared == "PARQUET" else APACHE_ORC
        stats = {}
        if with_stats:
            paths = [path for path, _, _ in listing]
            schema = data_schema(table)
            if hfile_col_stats_available(self.base_path):
                stat_rows = stats_with_hfile_tier(self.base_path, paths, schema)
            else:
                stat_rows = footer_stat_rows(paths, schema)
            stats = {path: (n, cs) for path, n, cs in stat_rows}
        rows = []
        for path, size, modified_ms in listing:
            record_count, column_stats = stats.get(path, (None, None))
            values = partition_values(relativize(path, self.base_path).rpartition("/")[0])
            rows.append(
                (
                    path,
                    from_extension(path, default=default_fmt),
                    size,
                    record_count,
                    modified_ms,
                    {pf.output_name: values.get(pf.output_name) for pf in table.partition_fields}
                    or None,
                    column_stats,
                )
            )
        return arrow_table(rows, FILE_INVENTORY_ARROW)

    # -- commits -----------------------------------------------------------

    def get_commits_backlog(self, instants: InstantsForIncrementalSync) -> CommitsBacklog:
        all_instants = {i for i, _ in list_completed_instants(self.base_path)}
        new = {i for i in all_instants if i > instants.last_sync_instant}
        pending_done = {p for p in instants.pending_commits if p in all_instants}
        return CommitsBacklog(commits_to_process=sorted(new | pending_done))

    def is_incremental_sync_safe_from(self, instant: str) -> bool:
        """Safe iff a commit at/before the instant survives (the archival /
        cleaner analog of HudiConversionSource.java:164-215)."""
        instants = [i for i, _ in list_completed_instants(self.base_path)]
        return bool(instants) and min(instants) <= instant

    def get_table_change_for_commit(self, commit: str) -> TableChange:
        change = self._table_change_impl(commit)
        if self.emit_row_changes:
            change.row_changes = read_hudi_cdc(
                self.spark, self.base_path, commit
            ).drop("_commit_instant")
        return change

    def _table_change_impl(self, commit: str) -> TableChange:
        table = self.get_current_table()
        if self.view == "snapshot":
            return self._snapshot_view_change(commit, table)
        action = next(a for i, a in list_completed_instants(self.base_path) if i == commit)
        meta = read_commit_metadata(self.base_path, commit, action)
        # only BASE files enter the conversion diff: a deltacommit that
        # writes log files changes no convertible file (the reference's
        # newBaseFileAdded gate, HudiDataFileExtractor.java:300-310)
        replaced, written = _commit_groups(meta)
        new_paths = {
            key: {"path": st["path"], "size": st.get("fileSizeInBytes", 0), "instant": commit}
            for key, st in written
            if not is_log_file(st["path"])
        }
        files_added = self._to_inventory(list(new_paths.values()), table, with_stats=True)
        # removed = files of replaced groups, plus the PREVIOUS base file
        # of any group that got a new base file this commit (slice
        # supersession — HudiDataFileExtractor.java:303-313), both
        # resolved against the state just before this commit
        removed_rows = []
        if replaced or new_paths:
            prev = {
                group_key(r): r
                for r in live_files_rows(self.base_path, _prev_instant(self.base_path, commit))
            }
            removed_rows = [prev[key] for key in dict.fromkeys(replaced) if key in prev]
            removed_rows.extend(
                prev[key]
                for key, new in new_paths.items()
                if key in prev and prev[key]["path"] not in (None, new["path"])
            )
        files_removed = self._to_inventory(removed_rows, table, with_stats=False)
        return TableChange(
            table=table, commit_id=commit, files_added=files_added, files_removed=files_removed
        )

    def _snapshot_view_change(self, commit: str, table: InternalTable) -> TableChange:
        """Snapshot-view commit diff as a representation diff: the
        effective file (base or compaction shadow) of every slice before
        vs after this commit. A log-only deltacommit — invisible to the
        read-optimized diff — becomes a shadow swap here, which is
        exactly the update the RT view gained. Shadow materialization is
        idempotent and as-of-aware, so replaying an old backlog after a
        restart rebuilds the same paths."""
        prev = _prev_instant(self.base_path, commit)
        cur = {group_key(r): r for r in self._effective_rows(commit, table)}
        prv = (
            {group_key(r): r for r in self._effective_rows(prev, table)} if prev else {}
        )
        added_rows = [
            r for key, r in cur.items() if prv.get(key, {}).get("path") != r["path"]
        ]
        removed_rows = [
            r for key, r in prv.items() if cur.get(key, {}).get("path") != r["path"]
        ]
        files_added = self._to_inventory(added_rows, table, with_stats=True)
        files_removed = self._to_inventory(removed_rows, table, with_stats=False)
        return TableChange(
            table=table, commit_id=commit, files_added=files_added, files_removed=files_removed
        )

    def get_commit_identifier(self, commit: str) -> str:
        return commit

    def get_sync_metadata(self) -> Optional[TableSyncMetadata]:
        for instant, action in reversed(list_completed_instants(self.base_path)):
            meta = read_commit_metadata(self.base_path, instant, action)
            raw = (meta.get("extraMetadata") or {}).get(XTABLE_METADATA_KEY)
            if raw:
                return TableSyncMetadata.from_json(raw)
        return None


def commit_schema(
    base_path: str, instants: Optional[list[tuple[str, str]]] = None
) -> Optional[T.StructType]:
    """The newest commit's extraMetadata schema as written (meta fields
    kept), or None when no commit records one. Real Hudi (and this
    engine's target) stores an AVRO record schema with hudi_id_tracking
    field ids; legacy Spark StructType JSON is still accepted."""
    from incubator_xtable_spark.model.hudi_ids import parse_schema_json

    if instants is None:
        instants = list_completed_instants(base_path)
    for instant, action in reversed(instants):
        raw = (read_commit_metadata(base_path, instant, action).get("extraMetadata") or {}).get("schema")
        if raw:
            schema, _ = parse_schema_json(raw)
            if schema is not None:
                return schema
    return None


def plan_changes(base_path: str, instant: str) -> ChangePlan:
    """The row changes of ONE completed instant (`change_plan.ChangePlan`;
    no SparkSession), in order:

    1. the commit's CDC supplemental log files (hoodie.table.cdc.enabled
       writers; cdcStats in the commit's write stats name them), whose
       CDC blocks carry {op: i|u|d, before, after} records that
       `cdc_log_rows` decodes to rows and their `_change_type`;
    2. an adds-only commit (action=commit, no replacements, no log
       files, no rewritten file group): each written base file's rows
       are inserts, partition values from its hive-style directory;
    3. any other commit rewrites state without CDC logging (a COW
       upsert, a MOR deltacommit, a replacecommit): the plan carries no
       files and ``derive`` says why; `read_hudi_cdc` derives the rows by
       a join of the touched file groups, and the stream refuses."""
    action = next((a for i, a in list_completed_instants(base_path) if i == instant), None)
    if action is None:
        raise ValueError(f"no completed instant {instant} in {base_path}")
    meta = read_commit_metadata(base_path, instant, action)
    stats = [st for sts in (meta.get("partitionToWriteStats") or {}).values() for st in sts]
    cdc_paths = [p for st in stats for p in (st.get("cdcStats") or {})]
    rewrites = [
        st
        for st in stats
        if not (st.get("path") or "").endswith(".parquet")
        or st.get("prevCommit") not in (None, "null")
        or int(st.get("numUpdateWrites") or 0) > 0
        or int(st.get("numDeletes") or 0) > 0
    ]
    if not cdc_paths and (action != "commit" or meta.get("partitionToReplaceFileIds") or rewrites):
        # a COW upsert rewrites a file GROUP: its new file version is not
        # all-inserts (prevCommit names the rewritten base;
        # numUpdateWrites/numDeletes count the mutated rows)
        return ChangePlan(
            T.StructType([]),
            [],
            [],
            f"instant {instant} ({action}) rewrites state without CDC logging; "
            "hudi_cdc cannot derive its row changes per file. Enable CDC "
            "supplemental logging on the writer (hudiChangeFeed / "
            "hoodie.table.cdc.enabled — what Hudi's own CDC query requires) "
            "or consume via streaming.cdc_stream.run_cdc_stream",
        )
    table = HudiConversionSource(None, base_path).get_current_table()
    if table is None:
        raise ValueError(f"not a hudi table: {base_path}")
    if cdc_paths:
        files = [
            ChangeFile(os.path.join(base_path, p), HUDI_CDC_LOG, "_change_type", {}, (), None)
            for p in cdc_paths
        ]
        return ChangePlan(table.read_schema, files, [], None)
    part_cols = [pf.output_name for pf in table.partition_fields]
    paths = [st["path"] for st in stats if st.get("path")]
    files = [
        ChangeFile(
            os.path.join(base_path, p),
            from_extension(p),
            "insert",
            partition_values(os.path.dirname(p)) if part_cols else {},
            (),
            None,
        )
        for p in paths
    ]
    groups = _base_file_groups(base_path, paths, table, "read_hudi_cdc")
    return ChangePlan(table.read_schema, files, groups, None)


def cdc_log_rows(path: str, schema: T.StructType) -> list[tuple]:
    """The rows of one CDC supplemental log file: each record's after
    image (insert, update_postimage) or before image (delete,
    update_preimage) as values of ``schema``'s columns, then its change
    type. Avro logical types that decode as raw numbers become dates and
    datetimes."""
    import datetime as _dt

    from incubator_xtable_spark.sources.hudi_log import block_records, read_log_blocks

    def _decode(v, dt):
        if v is None:
            return None
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)) and isinstance(v, int):
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
        if isinstance(dt, T.DateType) and isinstance(v, int):
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
        return v

    def _vals(rec: dict, change: str) -> tuple:
        return tuple(_decode(rec.get(f.name), f.dataType) for f in schema.fields) + (change,)

    rows: list[tuple] = []
    for block in read_log_blocks(path):
        kind, records = block_records(None, block)
        if kind != "cdc":
            continue
        for r in records:
            op, before, after = r.get("op"), r.get("before"), r.get("after")
            if op == "i" and after is not None:
                rows.append(_vals(after, "insert"))
            elif op == "d" and before is not None:
                rows.append(_vals(before, "delete"))
            elif op == "u":
                if before is not None:
                    rows.append(_vals(before, "update_preimage"))
                if after is not None:
                    rows.append(_vals(after, "update_postimage"))
    return rows


def cdc_log_batch(path: str, schema: T.StructType, commit_column: str, instant: str) -> pa.RecordBatch:
    """`cdc_log_rows` of one CDC log as an Arrow batch: ``schema``'s
    columns, `_change_type`, then ``commit_column`` holding ``instant``."""
    from pyspark.sql.pandas.types import to_arrow_type

    rows = cdc_log_rows(path, schema)
    types = [to_arrow_type(f.dataType) for f in schema.fields] + [pa.string()]
    arrays = [pa.array([r[i] for r in rows], type=t) for i, t in enumerate(types)]
    arrays.append(pa.array([instant] * len(rows), pa.string()))
    return pa.RecordBatch.from_arrays(arrays, schema.fieldNames() + ["_change_type", commit_column])


def instant_data_bytes(base_path: str, instant: str, action: str) -> int:
    """Planned data bytes of one instant from its commit metadata: write
    stats' fileSizeInBytes plus CDC supplemental file sizes."""
    try:
        meta = read_commit_metadata(base_path, instant, action)
    except OSError:
        return 0
    total = 0
    for stats in (meta.get("partitionToWriteStats") or {}).values():
        for st in stats:
            total += int(st.get("fileSizeInBytes") or 0)
            for sz in (st.get("cdcStats") or {}).values():
                total += int(sz or 0)
    return total


def read_hudi_cdc(spark: SparkSession, base_path: str, instant: str) -> DataFrame:
    """Row-level changes of ONE commit as a CDC-shaped DataFrame: the row
    columns plus `_change_type` (insert / update_preimage /
    update_postimage / delete) and `_commit_instant` — the Hudi member of
    the CDC-read triple (read_paimon_changelog / read_delta_cdf), reading
    the rows `plan_changes` plans. CDC logs decode on executors, one
    task per log file; a commit the plan leaves to derivation reads
    the touched file groups' EFFECTIVE rows (base or log-merged
    compaction shadow) before vs after the commit, full-outer-joined on
    the record key; value changes emit preimage+postimage pairs.

    Scale: the derivation scans only the touched groups' files on both
    sides and joins on the record key — the minimum any engine pays to
    reconstruct CDC that was never logged; with CDC logging enabled the
    read is just the cdc blocks."""
    plan = plan_changes(base_path, instant)
    commit_column = T.StructField("_commit_instant", T.StringType())
    if plan.derive:
        return _derive_changes(spark, base_path, instant, commit_column)
    logs = [f for f in plan.files if f.fmt == HUDI_CDC_LOG]
    if not logs:
        return read_changes(spark, plan, commit_column, instant)
    schema, name = plan.schema, commit_column.name
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    def _decode(batches):
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        from incubator_xtable_spark.sources.hudi_source import cdc_log_batch

        for b in batches:
            for path in b.column(0).to_pylist():
                yield cdc_log_batch(path, schema, name, instant)

    # one slice, so one task, per log
    paths = spark.sparkContext.parallelize([(f.path,) for f in logs], len(logs))
    return spark.createDataFrame(paths, "path STRING").mapInArrow(
        _decode, change_schema(schema, commit_column)
    )


def _derive_changes(
    spark: SparkSession, base_path: str, instant: str, commit_column: T.StructField
) -> DataFrame:
    """A commit's row changes by effective-representation diff of the
    touched file groups (replaced groups count as fully deleted)."""
    src = HudiConversionSource(spark, base_path, view="snapshot")
    table = src.get_current_table()
    action = next(a for i, a in list_completed_instants(base_path) if i == instant)
    meta = read_commit_metadata(base_path, instant, action)
    key_field = (
        read_properties(base_path).get("hoodie.table.recordkey.fields")
        or table.read_schema.fields[0].name
    ).split(",")[0]
    replaced, written = _commit_groups(meta)
    touched = set(replaced) | {key for key, _ in written}
    prev = _prev_instant(base_path, instant)
    eff_new = {group_key(r): r for r in src._effective_rows(instant, table, touched)}
    eff_old = (
        {group_key(r): r for r in src._effective_rows(prev, table, touched)} if prev else {}
    )

    def _read(reps: dict) -> DataFrame:
        return _scan_base_files(
            spark,
            base_path,
            [reps[key] for key in touched if key in reps],
            table,
            "read_hudi_cdc",
        )

    data_cols = [f.name for f in table.read_schema.fields]
    o = _read(eff_old).select(F.col(key_field).alias("_k"), F.struct(*data_cols).alias("_o"))
    n = _read(eff_new).select(F.col(key_field).alias("_k"), F.struct(*data_cols).alias("_n"))
    j = o.join(n, "_k", "full_outer")
    ins = j.filter(F.col("_o").isNull()).select("_n.*").withColumn("_change_type", F.lit("insert"))
    dels = j.filter(F.col("_n").isNull()).select("_o.*").withColumn("_change_type", F.lit("delete"))
    # eqNullSafe: a null column value inside the struct must still compare
    upd = j.filter(
        F.col("_o").isNotNull()
        & F.col("_n").isNotNull()
        & ~F.col("_o").eqNullSafe(F.col("_n"))
    )
    pre = upd.select("_o.*").withColumn("_change_type", F.lit("update_preimage"))
    post = upd.select("_n.*").withColumn("_change_type", F.lit("update_postimage"))
    out = ins.unionByName(dels).unionByName(pre).unionByName(post)
    return out.select(*data_cols, "_change_type", F.lit(instant).alias(commit_column.name))


def _prev_instant(base_path: str, commit: str) -> Optional[str]:
    instants = [i for i, _ in list_completed_instants(base_path) if i < commit]
    return instants[-1] if instants else None


def read_hudi_as_df(
    spark: SparkSession,
    base_path: str,
    as_of_instant: Optional[str] = None,
    mode: str = "read_optimized",
    prune: Optional[dict] = None,
) -> DataFrame:
    """Snapshot read of the Hudi table (time travel via as_of_instant):
    the engine's `spark.read.format("hudi")` equivalent.

    mode="read_optimized" (default): latest base files only — the same
    view the conversion scope syncs (reference getLatestBaseFiles).
    mode="snapshot" (MOR): the un-compacted log-file tail of every slice
    is merged in — log upserts replace/append rows keyed by
    hoodie.table.recordkey.fields, delete blocks drop keys (see
    sources/hudi_log.py for the from-spec block codec and the
    HoodieMergedLogRecordScanner merge semantics).

    ``prune`` ({column: (lower, upper)}, inclusive, None = unbounded):
    plan-time DATA SKIPPING via the column_stats metadata index — files
    whose indexed [min,max] provably excludes every requested range drop
    from the scan before any footer is opened (the 100 TB planning win:
    O(metadata) instead of O(files) I/O). Safe: uncovered files are
    kept, and pruning never replaces the row filter — apply `.filter`
    on the result for exact semantics. read_optimized only (a MOR log
    overlay could resurrect pruned keys). Combined with
    ``as_of_instant``, the column_stats index REPLAYS AS OF that
    instant (base files by embedded instant, log blocks by their
    INSTANT_TIME header) — hashed record keys are version-agnostic per
    rel path, so trusting HEAD state would prune an as-of file version
    against a LATER rewrite's bounds and silently drop matching rows;
    the as-of replay serves each path's contemporaneous stats, and any
    file group without as-of state degrades to "keep"."""
    include_logs = mode == "snapshot"
    if prune and include_logs:
        raise ValueError(
            "read_hudi_as_df: prune= requires mode='read_optimized' "
            "(MOR log overlays can add rows the base-file index "
            "doesn't cover)"
        )
    if include_logs and as_of_instant is None:
        # bound head reads at the latest COMPLETED instant: a writer may
        # already have appended an inflight commit's blocks to log files
        instants = list_completed_instants(base_path)
        as_of_instant = instants[-1][0] if instants else None
    rows = live_files_rows(base_path, as_of_instant, include_log_only=include_logs)
    log_rows = [r for r in rows if r.get("log_files")]
    rows = [r for r in rows if r["path"] is not None]
    src = HudiConversionSource(spark, base_path)
    table = src.get_current_table()
    # schema-aware time travel: resolve the schema the AS-OF commit
    # declared (commit extraMetadata walks back from <= instant), so a
    # pre-evolution read does not project columns that did not exist yet
    if as_of_instant is not None and table is not None:
        asof_instants = [
            t for t in list_completed_instants(base_path) if t[0] <= as_of_instant
        ]
        if asof_instants:
            from dataclasses import replace as _dc_replace

            hist = src._read_schema(asof_instants)
            if hist.fields and hist != table.read_schema:
                table = _dc_replace(table, read_schema=hist)
    if prune and rows and table is not None:
        from incubator_xtable_spark.sources.hudi_metadata import (
            prune_files_by_col_stats,
        )

        kept = prune_files_by_col_stats(
            base_path,
            [r["path"] for r in rows],
            table.read_schema,
            prune,
            as_of_instant=as_of_instant,
        )
        rows = [r for r in rows if r["path"] in kept]
    if table is None or (not rows and not log_rows):
        return spark.createDataFrame([], table.read_schema if table else T.StructType([]))
    if not rows:  # log-only slices: everything comes from the overlay
        base_df = spark.createDataFrame([], table.read_schema)
        return (
            _apply_log_overlay(spark, base_path, base_df, log_rows, table, as_of_instant)
            if include_logs
            else base_df
        )
    out = _scan_base_files(spark, base_path, rows, table, "read_hudi_as_df")
    if include_logs and log_rows:
        out = _apply_log_overlay(spark, base_path, out, log_rows, table, as_of_instant)
    return out


def _scan_base_files(
    spark: SparkSession, base_path: str, rows: list[dict], table: InternalTable, reader: str
) -> DataFrame:
    """Read the listed base files (``rows``, paths relative to the table)
    as ``table``'s read schema through `file_scan.scan_files`, grouped by
    `_base_file_groups`; partition columns a file does not store come
    from its hive-style path."""
    from incubator_xtable_spark.sources.file_scan import scan_files

    paths = [r["path"] for r in rows]
    part_cols = [pf.output_name for pf in table.partition_fields]
    return scan_files(
        spark,
        _base_file_groups(base_path, paths, table, reader),
        table.read_schema.fields,
        partition_values={
            os.path.join(base_path, p): partition_values(os.path.dirname(p)) for p in paths
        }
        if part_cols
        else None,
    )


def _base_file_groups(base_path: str, paths: list[str], table: InternalTable, reader: str) -> list:
    """The `file_scan` groups of base files (``paths`` relative to the
    table). Partition columns may live INSIDE the data files
    (Paimon-sourced conversions store the full row) or only in the
    hive-style path (parquet-dir sources), and a table synced from BOTH
    kinds of source is heterogeneous, so files group by which partition
    columns their footer stores. ORC base files
    (hoodie.table.base.file.format=ORC) read through Spark's ORC scan;
    any other format refuses: real Hudi base formats are
    PARQUET/ORC/HFILE only, so an avro base file is a corrupt table, not
    a read gap."""
    from incubator_xtable_spark.sources.file_scan import stored_column_groups

    declared = (
        read_properties(base_path).get("hoodie.table.base.file.format") or "PARQUET"
    ).upper()
    # HFILE (or any other declared base format) must NOT alias to ORC:
    # keep the raw tag so extension-less files under it hit the loud
    # per-file refusal below instead of being parsed as ORC
    default_fmt = {"PARQUET": PARQUET, "ORC": APACHE_ORC}.get(declared, declared)
    files = []
    for p in paths:
        abs_p = os.path.join(base_path, p)
        fmt = from_extension(abs_p, default=default_fmt)
        if fmt not in (PARQUET, APACHE_ORC):
            raise NotImplementedError(
                f"{reader}: data file {abs_p!r} has format {fmt}; "
                "PARQUET and ORC base files are row-readable"
            )
        files.append((abs_p, fmt))
    part_cols = [pf.output_name for pf in table.partition_fields]
    return stored_column_groups(files, table.read_schema, part_cols)


def _apply_log_overlay(
    spark: SparkSession,
    base_path: str,
    base_df: DataFrame,
    log_rows: list[dict],
    table: InternalTable,
    as_of: Optional[str] = None,
) -> DataFrame:
    """Merge the log-file tail over the base rows: upserts replace by
    record key, deletes drop, new keys append (per-slice log order is
    preserved by live_files_rows' log_files accumulation)."""
    from incubator_xtable_spark.sources.hudi_log import merged_log_records

    props = read_properties(base_path)
    key_field = (
        props.get("hoodie.table.recordkey.fields") or table.read_schema.fields[0].name
    ).split(",")[0]
    log_paths = [
        os.path.join(base_path, lf) for r in log_rows for lf in (r.get("log_files") or [])
    ]
    upserts, deleted = merged_log_records(spark, log_paths, key_field, max_instant=as_of)
    if not upserts and not deleted:
        return base_df
    drop_keys = [str(k) for k in (set(upserts) | deleted)]
    out = base_df.filter(~F.col(key_field).cast("string").isin(drop_keys))
    if upserts:
        urows = [
            tuple(rec.get(f.name) for f in table.read_schema.fields)
            for rec in upserts.values()
        ]
        out = out.unionByName(spark.createDataFrame(urows, table.read_schema))
    return out
