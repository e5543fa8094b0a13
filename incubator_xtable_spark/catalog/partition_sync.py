"""Catalog partition registration: keep the catalog's partition list in
lockstep with the table's storage partitions.

Reference parity (behavior mirrored, not code):
- the sync-tool surface and the full/incremental split keyed on the
  last_commit_time_sync table property
  (catalog/CatalogPartitionSyncTool.java:29-45,
   hudi/catalog/HudiCatalogPartitionSyncTool.java:110-190)
- event derivation — catalog-only partitions DROP, storage-only ADD,
  path-mismatch UPDATE (HudiCatalogPartitionSyncTool.java:358-400)
- written/dropped partitions since the last synced commit drive the
  incremental path (HudiCatalogPartitionSyncTool.java:230-256)

Format-agnostic by construction: storage partitions come from the
conversion source's file inventory (the distinct partition paths of the
inventory table — metadata-sized), and the incremental path replays
the same per-commit TableChange diffs the conversion pipeline uses, so
Hudi/Delta/Iceberg tables all sync partitions through one code path.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass

import pyarrow.compute as pc

from incubator_xtable_spark.catalog.external_clients import CatalogPartition
from incubator_xtable_spark.catalog.sync_client import CatalogTableIdentifier
from incubator_xtable_spark.model.core import InstantsForIncrementalSync, InternalTable, table_rows
from incubator_xtable_spark.model.hive_partitions import DEFAULT_PARTITION_NAME

log = logging.getLogger(__name__)

LAST_COMMIT_TIME_SYNC = "last_commit_time_sync"

ADD, UPDATE, DROP = "ADD", "UPDATE", "DROP"


@dataclass(frozen=True)
class PartitionEvent:
    event_type: str  # ADD | UPDATE | DROP
    storage_partition: str  # relative partition path


def storage_partitions_from_inventory(files, part_names: list[str]) -> list[str]:
    """Distinct relative partition paths (col1=v1/col2=v2) in a file
    inventory table — metadata only, never a data scan."""
    if not part_names:
        return []
    paths = set()
    for r in table_rows(files.select(["partition_values"])):
        pv = r["partition_values"] or {}
        paths.add(
            "/".join(
                f"{c}={DEFAULT_PARTITION_NAME if pv.get(c) is None else pv[c]}"
                for c in part_names
            )
        )
    return sorted(paths)


def partition_values_in_path(rel_path: str) -> list[str]:
    """col=val/col2=val2 -> [val, val2] (the reference's
    partitionValuesExtractor semantics)."""
    return [seg.split("=", 1)[1] for seg in rel_path.split("/") if "=" in seg]


class CatalogPartitionSyncTool:
    """Syncs storage partitions to a catalog through any client exposing
    the CatalogPartitionSyncOperations surface (HMS, Glue, in-memory)."""

    def __init__(self, catalog_client, source) -> None:
        self.client = catalog_client
        self.source = source

    # -- public ------------------------------------------------------------

    def sync_partitions(self, table: InternalTable, ident: CatalogTableIdentifier) -> bool:
        part_names = [pf.output_name for pf in table.partition_fields]
        if not part_names:
            return False
        props = self.client.get_table_properties(ident, [LAST_COMMIT_TIME_SYNC])
        last_synced = props.get(LAST_COMMIT_TIME_SYNC)
        if last_synced is None or not self.source.is_incremental_sync_safe_from(last_synced):
            log.info("partition sync: full listing (no/expired bookmark) for %s", ident.qualified)
            changed = self._sync_all(table, ident, part_names)
        else:
            changed = self._sync_incremental(table, ident, part_names, last_synced)
        if changed:
            self._update_bookmark(ident)
        return changed

    # -- full --------------------------------------------------------------

    def _sync_all(
        self, table: InternalTable, ident: CatalogTableIdentifier, part_names: list[str]
    ) -> bool:
        snapshot = self.source.get_current_snapshot()
        on_storage = storage_partitions_from_inventory(snapshot.files, part_names)
        in_catalog = self.client.get_all_partitions(ident)
        events = self._partition_events(table.base_path, in_catalog, on_storage)
        return self._apply(table.base_path, ident, events)

    # -- incremental -------------------------------------------------------

    def _sync_incremental(
        self,
        table: InternalTable,
        ident: CatalogTableIdentifier,
        part_names: list[str],
        last_synced: str,
    ) -> bool:
        backlog = self.source.get_commits_backlog(
            InstantsForIncrementalSync(last_sync_instant=last_synced)
        )
        written: set[str] = set()
        for commit in backlog.commits_to_process:
            change = self.source.get_table_change_for_commit(commit)
            removed = change.files_removed
            written.update(
                storage_partitions_from_inventory(change.files_added, part_names)
            )
            written.update(
                storage_partitions_from_inventory(
                    removed.filter(pc.is_valid(removed["partition_values"])), part_names
                )
            )
        # touched partitions re-validate against the current snapshot: a
        # new one adds, an existing one with a changed location updates;
        # drops always compare catalog vs live (a vanished partition may
        # leave no commit to replay — dir-based sources)
        snapshot = self.source.get_current_snapshot()
        live = set(storage_partitions_from_inventory(snapshot.files, part_names))
        in_catalog = self.client.get_all_partitions(ident)
        catalog_by_values = self._values_to_path(in_catalog)
        events = []
        for p in sorted(written):
            if p not in live:
                continue
            key = ", ".join(partition_values_in_path(p))
            if key not in catalog_by_values:
                events.append(PartitionEvent(ADD, p))
            elif catalog_by_values[key] != os.path.join(table.base_path, p):
                events.append(PartitionEvent(UPDATE, p))
        live_keys = {", ".join(partition_values_in_path(p)) for p in live}
        for key in sorted(set(catalog_by_values) - live_keys):
            events.append(PartitionEvent(DROP, catalog_by_values[key]))
        return self._apply(table.base_path, ident, events)

    # -- event machinery ---------------------------------------------------

    @staticmethod
    def _values_to_path(in_catalog: list[CatalogPartition]) -> dict[str, str]:
        return {", ".join(p.values): p.storage_location for p in in_catalog}

    def _partition_events(
        self, base_path: str, in_catalog: list[CatalogPartition], on_storage: list[str]
    ) -> list[PartitionEvent]:
        """Full-compare semantics (HudiCatalogPartitionSyncTool.java:358-400):
        catalog-not-storage -> DROP, storage-not-catalog -> ADD,
        both-but-different-path -> UPDATE."""
        catalog_by_values = self._values_to_path(in_catalog)
        to_drop = set(catalog_by_values)
        events: list[PartitionEvent] = []
        for rel in on_storage:
            values = partition_values_in_path(rel)
            if not values:
                continue
            key = ", ".join(values)
            to_drop.discard(key)
            full_path = os.path.join(base_path, rel)
            if key not in catalog_by_values:
                events.append(PartitionEvent(ADD, rel))
            elif catalog_by_values[key] != full_path:
                events.append(PartitionEvent(UPDATE, rel))
        for key in sorted(to_drop):
            # reconstruct a relative path for the drop event from catalog
            # location when possible; values are what the drop call needs
            events.append(PartitionEvent(DROP, catalog_by_values[key]))
        return events

    def _apply(
        self, base_path: str, ident: CatalogTableIdentifier, events: list[PartitionEvent]
    ) -> bool:
        def to_partition(ev: PartitionEvent) -> CatalogPartition:
            rel = ev.storage_partition
            full = rel if rel.startswith("/") else os.path.join(base_path, rel)
            return CatalogPartition(partition_values_in_path(rel), full)

        adds = [to_partition(e) for e in events if e.event_type == ADD]
        updates = [to_partition(e) for e in events if e.event_type == UPDATE]
        drops = [to_partition(e) for e in events if e.event_type == DROP]
        if adds:
            log.info("adding %d partition(s) to %s", len(adds), ident.qualified)
            self.client.add_partitions_to_table(ident, adds)
        if updates:
            log.info("updating %d partition(s) in %s", len(updates), ident.qualified)
            self.client.update_partitions_to_table(ident, updates)
        if drops:
            log.info("dropping %d partition(s) from %s", len(drops), ident.qualified)
            self.client.drop_partitions(ident, drops)
        return bool(adds or updates or drops)

    def _update_bookmark(self, ident: CatalogTableIdentifier) -> None:
        snapshot_version = self.source.get_current_snapshot().version
        self.client.update_table_properties(ident, {LAST_COMMIT_TIME_SYNC: str(snapshot_version)})
