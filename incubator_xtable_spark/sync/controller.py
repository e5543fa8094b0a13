"""ConversionController: orchestrates source -> N targets sync with
FULL/INCREMENTAL decision, persisted bookmark, and commit-backlog replay.

Reference parity (logic ported 1:1, expressed in Python driver code — this
is driver-side planning in the reference too):
- sync entry + per-target result   conversion/ConversionController.java:92-221
- FULL vs INCREMENTAL decision     ConversionController.java:254-352
  (INCREMENTAL iff a bookmark exists AND the source can still replay from
  the earliest instant any target needs, including pending instants)
- most-out-of-sync alignment       ConversionController.java:354-387
  (one source backlog serves all targets; per-change applicability filter)
- per-target sync order            spi/sync/TableFormatSync.java:64-151
  (begin -> metadata -> schema -> partitionSpec -> files -> complete;
  a failing target stops receiving further changes, others continue)
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Optional

from incubator_xtable_spark.model.core import (
    CatalogSyncStatus,
    ErrorDetails,
    InstantsForIncrementalSync,
    SyncMode,
    SyncResult,
    SyncStatusCode,
    TableFormat,
)
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata


@dataclass
class ConversionConfig:
    sync_mode: SyncMode = SyncMode.INCREMENTAL


@dataclass
class TargetCatalogConfig:
    """One catalog registration for one target format
    (conversion/TargetCatalogConfig.java: catalogTableIdentifier +
    catalogConfig, resolved here to a live client)."""

    catalog_id: str
    client: Any  # CatalogSyncClient surface (HMS/Glue/in-memory)
    ident: Any  # CatalogTableIdentifier
    sync_partitions: bool = True


class ConversionController:
    def __init__(self, config: Optional[ConversionConfig] = None) -> None:
        self.config = config or ConversionConfig()

    def sync(self, source: Any, targets: dict[TableFormat, Any]) -> dict[TableFormat, SyncResult]:
        """Run one sync cycle from ``source`` into every target."""
        results: dict[TableFormat, SyncResult] = {}
        # 1. read each target's bookmark and decide its mode
        modes: dict[TableFormat, SyncMode] = {}
        bookmarks: dict[TableFormat, Optional[TableSyncMetadata]] = {}
        for fmt, target in targets.items():
            bookmark = target.get_table_metadata()
            bookmarks[fmt] = bookmark
            modes[fmt] = self._decide_mode(source, bookmark)

        full_targets = {f: t for f, t in targets.items() if modes[f] == SyncMode.FULL}
        incr_targets = {f: t for f, t in targets.items() if modes[f] == SyncMode.INCREMENTAL}

        if full_targets:
            results.update(self._sync_snapshot(source, full_targets))
        if incr_targets:
            results.update(self._sync_changes(source, incr_targets, bookmarks))
        return results

    def sync_table_across_catalogs(
        self,
        source: Any,
        targets: dict[TableFormat, Any],
        target_catalogs: dict[TableFormat, list[TargetCatalogConfig]],
        readback_sources: Optional[dict[TableFormat, Any]] = None,
    ) -> dict[TableFormat, SyncResult]:
        """Format sync first, then register each successfully-synced
        target into its catalogs — one call does "convert AND register"
        (ConversionController.syncTableAcrossCatalogs, .java:127-163;
        catalog statuses merged onto the format SyncResult like
        mergeSyncResults, .java:389-400).

        ``readback_sources`` maps a target format to a conversion source
        over the CONVERTED table (the reference re-reads the target's own
        current state before registering,
        ConversionController.java:233-244); it also powers partition
        registration. Without one, registration falls back to the source
        table's state.
        """
        results = self.sync(source, targets)
        for fmt, entries in (target_catalogs or {}).items():
            res = results.get(fmt)
            if res is None or not entries:
                continue
            if res.status != SyncStatusCode.SUCCESS:
                # a failed format sync registers nothing — every catalog
                # reports ERROR so callers see the skip explicitly
                res.catalog_sync_statuses.extend(
                    CatalogSyncStatus(
                        catalog_id=e.catalog_id,
                        status=SyncStatusCode.ERROR,
                        error=ErrorDetails("format sync failed; catalog sync skipped"),
                    )
                    for e in entries
                )
                continue
            readback = (readback_sources or {}).get(fmt)
            try:
                table = (
                    readback.get_current_table()
                    if readback is not None
                    else source.get_current_table()
                )
            except Exception as exc:  # noqa: BLE001
                res.catalog_sync_statuses.extend(
                    CatalogSyncStatus(
                        catalog_id=e.catalog_id,
                        status=SyncStatusCode.ERROR,
                        error=ErrorDetails(f"target read-back failed: {exc}"),
                    )
                    for e in entries
                )
                continue
            for entry in entries:
                res.catalog_sync_statuses.append(
                    self._sync_one_catalog(entry, table, readback)
                )
        return results

    @staticmethod
    def _sync_one_catalog(entry: TargetCatalogConfig, table: Any, readback: Any) -> CatalogSyncStatus:
        """spi/sync/CatalogSync.java:52-86 — per-catalog isolation: a
        failing catalog reports ERROR without stopping the others."""
        from incubator_xtable_spark.catalog.external_clients import sync_external_table
        from incubator_xtable_spark.catalog.partition_sync import CatalogPartitionSyncTool

        try:
            sync_external_table(entry.client, table, entry.ident)
            if (
                entry.sync_partitions
                and readback is not None
                and table.partition_fields
                and hasattr(entry.client, "get_all_partitions")
            ):
                CatalogPartitionSyncTool(entry.client, readback).sync_partitions(
                    table, entry.ident
                )
            return CatalogSyncStatus(catalog_id=entry.catalog_id, status=SyncStatusCode.SUCCESS)
        except Exception as exc:  # noqa: BLE001
            return CatalogSyncStatus(
                catalog_id=entry.catalog_id,
                status=SyncStatusCode.ERROR,
                error=ErrorDetails(error_message=str(exc)),
            )

    # -- mode decision (ConversionController.java:254-352) ------------------

    def _decide_mode(self, source: Any, bookmark: Optional[TableSyncMetadata]) -> SyncMode:
        if self.config.sync_mode == SyncMode.FULL:
            return SyncMode.FULL
        if bookmark is None:
            return SyncMode.FULL
        # delete-representation flip (purged shadows <-> row-delete
        # exposure) changes every DV'd file's effective path — an
        # incremental diff against the other representation corrupts the
        # target; a FULL restatement swaps representations safely
        if bool(getattr(source, "expose_row_deletes", False)) != bookmark.row_deletes_mode:
            return SyncMode.FULL
        # equality-delete-channel flip: the two modes register different
        # delete-file shapes (content=2 carries vs lowered positions)
        if bool(getattr(source, "expose_equality_deletes", False)) != bookmark.equality_deletes_mode:
            return SyncMode.FULL
        # source-view flip (e.g. Hudi MOR read-optimized <-> snapshot):
        # effective paths of log-bearing slices differ between views
        if getattr(source, "sync_view", None) != bookmark.source_view:
            return SyncMode.FULL
        earliest = _earliest_instant(bookmark)
        if not source.is_incremental_sync_safe_from(earliest):
            return SyncMode.FULL
        return SyncMode.INCREMENTAL

    # -- FULL path (TableFormatSync.syncSnapshot, .java:64-89) --------------

    def _sync_snapshot(self, source: Any, targets: dict[TableFormat, Any]) -> dict[TableFormat, SyncResult]:
        snapshot = source.get_current_snapshot()
        results = {}
        for fmt, target in targets.items():
            start = time.perf_counter()
            try:
                bookmark = TableSyncMetadata(
                    last_instant_synced=snapshot.version,
                    instants_to_consider_for_next_sync=list(snapshot.pending_commits),
                    source_table_format=snapshot.table.table_format.value,
                    source_identifier=snapshot.source_identifier,
                    row_deletes_mode=bool(getattr(source, "expose_row_deletes", False)),
                    equality_deletes_mode=bool(getattr(source, "expose_equality_deletes", False)),
                    source_view=getattr(source, "sync_view", None),
                )
                target.begin_sync(snapshot.table)
                target.sync_metadata(bookmark)
                target.sync_schema(snapshot.table.read_schema)
                target.sync_partition_spec(snapshot.table.partition_fields)
                target.sync_files_for_snapshot(snapshot.files)
                if getattr(snapshot, "row_deletes", None) is not None:
                    # only sources configured for row-delete exposure set
                    # this; a target without sync_row_deletes fails here
                    # and is isolated like any other target error
                    target.sync_row_deletes(snapshot.row_deletes)
                if getattr(snapshot, "equality_deletes", None) is not None:
                    target.sync_equality_deletes(snapshot.equality_deletes)
                if getattr(snapshot, "row_lineage", None) is not None:
                    # only sources configured with expose_row_lineage set
                    # this; a target without sync_row_lineage fails here
                    target.sync_row_lineage(snapshot.row_lineage)
                target.complete_sync()
                results[fmt] = SyncResult(
                    mode=SyncMode.FULL,
                    status=SyncStatusCode.SUCCESS,
                    target_format=fmt,
                    last_instant_synced=snapshot.version,
                    sync_duration_sec=time.perf_counter() - start,
                )
            except Exception as exc:  # noqa: BLE001 — per-target isolation
                results[fmt] = SyncResult(
                    mode=SyncMode.FULL,
                    status=SyncStatusCode.ERROR,
                    target_format=fmt,
                    sync_duration_sec=time.perf_counter() - start,
                    error=ErrorDetails(error_message=str(exc)),
                )
        return results

    # -- INCREMENTAL path (TableFormatSync.syncChanges, .java:99-151) -------

    def _sync_changes(
        self,
        source: Any,
        targets: dict[TableFormat, Any],
        bookmarks: dict[TableFormat, Optional[TableSyncMetadata]],
    ) -> dict[TableFormat, SyncResult]:
        # most-out-of-sync alignment: one backlog from the earliest instant
        # any target needs serves every target; previously-pending commits
        # are handed to the source so completed ones re-enter the backlog
        # (InstantsForIncrementalSync.java:49-61)
        # NOTE: with random-id sources (Iceberg snapshot ids) this min is
        # only meaningful when targets share a bookmark (the normal case);
        # diverged bookmarks re-align through the FULL fallback if the
        # chosen start turns out not to be replayable
        last_sync = min(
            (bookmarks[f].last_instant_synced for f in targets), key=_instant_key
        )
        pending = sorted(
            {i for f in targets for i in bookmarks[f].instants_to_consider_for_next_sync},
            key=_instant_key,
        )
        backlog = source.get_commits_backlog(
            InstantsForIncrementalSync(last_sync_instant=last_sync, pending_commits=pending)
        )
        order = {c: i for i, c in enumerate(backlog.commits_to_process)}
        results: dict[TableFormat, SyncResult] = {}
        failed: set[TableFormat] = set()
        last_synced: dict[TableFormat, str] = {}
        durations: dict[TableFormat, float] = {f: 0.0 for f in targets}

        for commit in backlog.commits_to_process:
            change = None
            for fmt, target in targets.items():
                if fmt in failed:
                    continue
                bm = bookmarks[fmt]
                if not _commit_applies(commit, bm, last_sync, order):
                    continue
                if change is None:  # lazy: only extract when some target needs it
                    change = source.get_table_change_for_commit(commit)
                start = time.perf_counter()
                try:
                    pending = [
                        i
                        for i in backlog.in_flight_instants
                        if _instant_lt(i, commit)
                    ]
                    new_bookmark = TableSyncMetadata(
                        last_instant_synced=commit,
                        instants_to_consider_for_next_sync=pending,
                        source_table_format=change.table.table_format.value,
                        source_identifier=change.source_identifier,
                        row_deletes_mode=bool(getattr(source, "expose_row_deletes", False)),
                        equality_deletes_mode=bool(getattr(source, "expose_equality_deletes", False)),
                        source_view=getattr(source, "sync_view", None),
                    )
                    target.begin_sync(change.table)
                    target.sync_metadata(new_bookmark)
                    target.sync_schema(change.table.read_schema)
                    target.sync_partition_spec(change.table.partition_fields)
                    target.sync_files_for_diff(change)
                    if getattr(change, "row_deletes", None) is not None:
                        target.sync_row_deletes(change.row_deletes)
                    if getattr(change, "equality_deletes", None) is not None:
                        target.sync_equality_deletes(change.equality_deletes)
                    if getattr(change, "row_lineage", None) is not None:
                        target.sync_row_lineage(change.row_lineage)
                    if getattr(change, "row_changes", None) is not None and hasattr(
                        target, "sync_row_changes"
                    ):
                        target.sync_row_changes(change.row_changes)
                    target.complete_sync()
                    last_synced[fmt] = commit
                    durations[fmt] += time.perf_counter() - start
                except Exception as exc:  # noqa: BLE001
                    failed.add(fmt)
                    results[fmt] = SyncResult(
                        mode=SyncMode.INCREMENTAL,
                        status=SyncStatusCode.ERROR,
                        target_format=fmt,
                        last_instant_synced=last_synced.get(fmt),
                        sync_duration_sec=durations[fmt],
                        error=ErrorDetails(error_message=str(exc)),
                    )

        for fmt in targets:
            if fmt in results:
                continue
            results[fmt] = SyncResult(
                mode=SyncMode.INCREMENTAL,
                status=SyncStatusCode.SUCCESS,
                target_format=fmt,
                last_instant_synced=last_synced.get(
                    fmt, bookmarks[fmt].last_instant_synced if bookmarks[fmt] else None
                ),
                sync_duration_sec=durations[fmt],
            )
        return results


def _earliest_instant(bookmark: Optional[TableSyncMetadata]) -> str:
    """Earliest instant a target needs: min(lastSynced, pending instants)
    (ConversionController.java:330-341)."""
    if bookmark is None:
        return "-1"
    candidates = [bookmark.last_instant_synced, *bookmark.instants_to_consider_for_next_sync]
    return min(candidates, key=_instant_key)


def _commit_applies(
    commit: str,
    bookmark: Optional[TableSyncMetadata],
    backlog_start: Optional[str] = None,
    order: Optional[dict[str, int]] = None,
) -> bool:
    """A commit applies to a target iff it is newer than the bookmark, or
    was previously pending (TableFormatSync.java:104-151).

    "Newer" follows the SOURCE's backlog ordering (``order`` maps commit
    id -> position), never a numeric compare of the ids themselves:
    Iceberg snapshot ids are random longs, so a valid newer snapshot can
    have a numerically smaller id. The target whose bookmark the backlog
    starts after (``backlog_start``) takes every commit; a fresher
    target takes the commits positioned after its own bookmark. The
    numeric compare survives only as the fallback for a bookmark that is
    no longer in the chain (monotonic-instant sources)."""
    if bookmark is None:
        return True
    if commit in bookmark.instants_to_consider_for_next_sync:
        return True
    last = bookmark.last_instant_synced
    if backlog_start is not None and last == backlog_start:
        return True
    if order is not None and last in order and commit in order:
        return order[commit] > order[last]
    return _instant_lt(last, commit)


def _instant_key(instant: str):
    try:
        return (0, int(instant), "")
    except ValueError:
        return (1, 0, instant)


def _instant_lt(a: str, b: str) -> bool:
    return _instant_key(a) < _instant_key(b)
