"""Retention maintenance: the engine-side equivalents of Delta
VACUUM/log-retention, Iceberg expire_snapshots, and Hudi timeline
archival.

Reference parity:
- Delta log retention property      delta/DeltaConversionTarget.java:341-343
- Iceberg expireSnapshots at completeSync
                                    iceberg/IcebergConversionTarget.java:290-298
- Hudi archival/cleaning configs    hudi/HudiConversionTarget.java (CommitState)

Safety model mirrors each format:
- Delta: commit JSONs at/below the last checkpoint are prunable (the
  checkpoint reconstructs state), and so are older checkpoints and
  sidecars no checkpoint references; data-file vacuum deletes files no
  retained version references;
- Iceberg: expiring a snapshot breaks the parent chain behind it — which
  is exactly what the source's incremental-safety check detects;
- Hudi: completed instants beyond the retained window move to an
  archived log (single JSON-lines file), keeping the active timeline
  bounded.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


# ---------------------------------------------------------------------------
# Delta
# ---------------------------------------------------------------------------


def delta_expire_log(base_path: str) -> list[int]:
    """Delete what the last checkpoint makes unnecessary: the commit
    JSONs below it (reconstructable from it), the checkpoints below it,
    and the v2 sidecars that no remaining checkpoint references and
    that are older than its top-level file (a failed checkpoint write
    leaves such sidecars behind; a concurrent writer's new sidecars are
    younger, so they stay). Returns the pruned versions."""
    import pyarrow.parquet as pq

    from incubator_xtable_spark.sources.delta_source import (
        _checkpoint_parquets,
        list_log_versions,
        read_last_checkpoint,
    )

    cp = read_last_checkpoint(base_path)
    if cp is None:
        return []
    log_dir = os.path.join(base_path, "_delta_log")
    pruned = []
    for v in list_log_versions(base_path):
        # the checkpoint's own commit JSON stays, as in Delta's log
        # cleanup: the log's newest version is read from commit files,
        # and a head checkpoint with none left would restart it at 0
        if v < cp["version"]:
            os.unlink(os.path.join(log_dir, f"{v:020d}.json"))
            pruned.append(v)
    remaining = []
    for name in os.listdir(log_dir):
        if ".checkpoint." in name and name.endswith(".parquet"):
            path = os.path.join(log_dir, name)
            if int(name[:20]) < cp["version"]:
                os.unlink(path)
            else:
                remaining.append(path)
    sidecar_dir = os.path.join(log_dir, "_sidecars")
    if not os.path.isdir(sidecar_dir):
        return pruned
    referenced = set()
    for path in remaining:
        if "sidecar" in pq.read_schema(path).names:
            refs = pq.read_table(path, columns=["sidecar"]).column("sidecar").to_pylist()
            referenced |= {os.path.basename(r["path"]) for r in refs if r and r["path"]}
    cutoff = min(
        (os.path.getmtime(p) for p in _checkpoint_parquets(base_path, cp["version"], cp.get("parts"))),
        default=0.0,
    )
    for name in os.listdir(sidecar_dir):
        path = os.path.join(sidecar_dir, name)
        if name.endswith(".parquet") and name not in referenced and os.path.getmtime(path) < cutoff:
            os.unlink(path)
    return pruned


def delta_compact_log(base_path: str, start: int, end: int) -> str:
    """Minor log compaction (Delta spec <start>.<end>.compacted.json):
    write one file holding the RECONCILED actions of the commit range —
    last file-action per path (an add following a remove of the same
    path in one commit stays an add: the DV-update shape), the latest
    metaData/protocol, the latest txn per appId, the latest
    domainMetadata per domain (tombstones included, so a removal inside
    the range still masks the domain's earlier value, e.g. the Row
    Tracking high watermark); commitInfo dropped.
    Readers then open one file per range instead of (end-start+1)
    commits (see delta_source._commit_slices). Raw JSON dicts are
    carried verbatim, so fields this engine does not model survive.

    Scale: driver-side over one range's commit files — ranges are
    bounded (compact every N commits), and a 100k-commit log compacted
    at N=100 lists 1,000 files instead of 100,000."""
    import uuid as _uuid

    d = os.path.join(base_path, "_delta_log")
    per_path: dict[str, dict] = {}
    latest_meta: Optional[dict] = None
    latest_proto: Optional[dict] = None
    txns: dict[str, dict] = {}
    domains: dict[str, dict] = {}
    for v in range(start, end + 1):
        p = os.path.join(d, f"{v:020d}.json")
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "add" in a:
                    per_path[a["add"]["path"]] = a
                elif "remove" in a:
                    per_path[a["remove"]["path"]] = a
                elif "metaData" in a:
                    latest_meta = a
                elif "protocol" in a:
                    latest_proto = a
                elif "txn" in a:
                    txns[a["txn"].get("appId", "")] = a
                elif "domainMetadata" in a:
                    domains[a["domainMetadata"]["domain"]] = a
    out = os.path.join(d, f"{start:020d}.{end:020d}.compacted.json")
    tmp = out + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        for a in [latest_proto, latest_meta]:
            if a is not None:
                fh.write(json.dumps(a) + "\n")
        for a in [*txns.values(), *domains.values()]:
            fh.write(json.dumps(a) + "\n")
        for path in sorted(per_path):
            fh.write(json.dumps(per_path[path]) + "\n")
    try:
        os.link(tmp, out)
    except FileExistsError:
        pass  # another writer compacted the same range — identical content
    finally:
        os.unlink(tmp)
    return out


def delta_vacuum(spark: SparkSession, base_path: str, dry_run: bool = True) -> list[str]:
    """Delete data files not referenced by the CURRENT snapshot (retention
    window = head only, the aggressive setting; a time-based window keeps
    files from all versions newer than the horizon). Never touches
    `_delta_log`. Returns the (to-be-)deleted paths."""
    from incubator_xtable_spark.sources.delta_source import live_adds
    from incubator_xtable_spark.sources.parquet_source import _list_parquet_files

    live = set(live_adds(base_path))
    base = base_path.rstrip("/") + "/"
    orphans = []
    for path, _size, _m in _list_parquet_files(base_path):
        rel = path[len(base):] if path.startswith(base) else path
        if rel not in live and path not in live:
            orphans.append(path)
    if not dry_run:
        for p in orphans:
            os.unlink(p)
    return orphans


# ---------------------------------------------------------------------------
# Iceberg
# ---------------------------------------------------------------------------


def iceberg_expire_snapshots(
    base_path: str,
    keep_last: int = 1,
    *,
    rest_client=None,
    rest_ident=None,
) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots from the table
    metadata and delete their manifest-list files. Expired snapshot ids are
    returned; the parent chain behind the retained window is broken, which
    downstream incremental-safety checks detect
    (IcebergConversionSource.java:266-290).

    r14: when the table is REST-catalog-registered (``rest_client`` +
    ``rest_ident`` given and the catalog is CURRENT — same table-uuid
    and same head snapshot as the on-disk metadata), the metadata
    evolution rides the ATOMIC commit path
    (rest_client.commit_expire_snapshots: one remove-snapshots update
    under assert-table-uuid + assert-ref-snapshot-id), so a concurrent
    catalog commit cannot interleave with the removal; the engine then
    deletes the now-unreachable manifest-list/statistics FILES locally
    (metadata first, files after — the real-world expiration order).
    A stale or foreign catalog state falls back to the local rewrite."""
    from incubator_xtable_spark.targets.iceberg_target import (
        current_metadata_version,
        metadata_dir,
        read_table_metadata,
    )

    meta = read_table_metadata(base_path)
    if meta is None:
        return []
    snapshots = sorted(meta.get("snapshots", []), key=lambda s: s["sequence-number"])
    if len(snapshots) <= keep_last:
        return []
    # spec: snapshots referenced by branches/tags are NOT expirable by
    # the count policy — a tag pins its snapshot until the REF is
    # dropped (refs age out via their own retention, not snapshot count)
    ref_pinned = {
        r.get("snapshot-id") for r in (meta.get("refs") or {}).values()
    }
    keep = {s["snapshot-id"] for s in snapshots[-keep_last:]} | ref_pinned
    retained = [s for s in snapshots if s["snapshot-id"] in keep]
    expired = [s for s in snapshots if s["snapshot-id"] not in keep]
    if not expired:
        return []
    if rest_client is not None and rest_ident is not None:
        done = _expire_via_rest_commit(
            base_path, meta, expired, rest_client, rest_ident
        )
        if done is not None:
            return done
    for s in expired:
        ml = s.get("manifest-list")
        if ml and os.path.exists(ml):
            os.unlink(ml)
    meta["snapshots"] = retained
    retained_ids = {s["snapshot-id"] for s in retained}
    meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log", []) if e["snapshot-id"] in retained_ids
    ]
    # defensive only: refs can never dangle here (they pin), but refs
    # already broken by an external writer are dropped with the cleanup
    if meta.get("refs"):
        meta["refs"] = {
            name: r
            for name, r in meta["refs"].items()
            if r.get("snapshot-id") in retained_ids
        }
    # statistics files of expired snapshots are unreachable — drop their
    # entries and stats files with the snapshot (same rule for the
    # table-level `statistics` puffins and `partition-statistics` parquets)
    for stats_field in ("statistics", "partition-statistics"):
        if meta.get(stats_field):
            dropped = [
                s for s in meta[stats_field] if s["snapshot-id"] not in retained_ids
            ]
            for s in dropped:
                p = s.get("statistics-path")
                if p and os.path.exists(p):
                    os.unlink(p)
            meta[stats_field] = [
                s for s in meta[stats_field] if s["snapshot-id"] in retained_ids
            ]
    version = (current_metadata_version(base_path) or 0) + 1
    path = os.path.join(metadata_dir(base_path), f"v{version}.metadata.json")
    # put-if-absent via tmp + os.link, matching IcebergConversionTarget's
    # commit protocol: a concurrent commit at the same version raises
    # instead of silently clobbering, and a crash never leaves a torn file.
    import uuid as _uuid

    tmp = path + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)
    with open(os.path.join(metadata_dir(base_path), "version-hint.text"), "w") as fh:
        fh.write(str(version))
    return [s["snapshot-id"] for s in expired]


def _expire_via_rest_commit(
    base_path: str, meta: dict, expired: list[dict], rest_client, rest_ident
) -> "list[int] | None":
    """Attempt the atomic REST expire (see iceberg_expire_snapshots).
    Returns the expired ids on success, None to signal the caller to
    fall back to the local rewrite (stale/foreign catalog state, or a
    server without the remove-snapshots update)."""
    try:
        loaded = rest_client.get_table(rest_ident)
    except Exception:  # transport-level failure -> local path
        return None
    cm = (loaded or {}).get("metadata") or {}
    # the catalog must be CURRENT for this exact table: same uuid, same
    # head — otherwise the server would evolve a different/stale chain
    if (
        cm.get("table-uuid") != meta.get("table-uuid")
        or cm.get("current-snapshot-id") != meta.get("current-snapshot-id")
    ):
        return None
    expired_ids = [s["snapshot-id"] for s in expired]
    # collect the files that become unreachable BEFORE the commit
    # (afterwards the entries are gone from the metadata)
    doomed_files = [
        s.get("manifest-list")
        for s in expired
        if s.get("manifest-list")
    ]
    gone = set(expired_ids)
    for stats_field in ("statistics", "partition-statistics"):
        doomed_files.extend(
            e.get("statistics-path")
            for e in meta.get(stats_field) or []
            if e.get("snapshot-id") in gone and e.get("statistics-path")
        )
    try:
        rest_client.commit_expire_snapshots(rest_ident, expired_ids)
    except Exception:
        # 400 (server lacks remove-snapshots) / persistent 409 — the
        # caller's local rewrite still converges; never half-expire
        return None
    for p in doomed_files:
        if os.path.exists(p):
            os.unlink(p)
    return expired_ids


# ---------------------------------------------------------------------------
# Hudi
# ---------------------------------------------------------------------------


def hudi_archive_timeline(base_path: str, keep_last: int = 10) -> list[str]:
    """Move completed instants beyond the retained window into
    `.hoodie/archived/commits.archive` (JSON lines), bounding the active
    timeline like Hudi's archival service."""
    from incubator_xtable_spark.targets.hudi_target import (
        completed_instant_file,
        list_completed_instants,
        read_commit_metadata,
        timeline_dir,
    )

    instants = list_completed_instants(base_path)
    # savepointed instants are pinned: archival must not move them (real
    # Hudi's savepoint contract — the Iceberg-tag analog here)
    pinned = set(hudi_list_savepoints(base_path))
    if len(instants) <= keep_last:
        return []
    to_archive = [(i, a) for i, a in instants[:-keep_last] if i not in pinned]
    if not to_archive:
        return []
    hoodie = os.path.join(base_path, ".hoodie")
    archived_dir = os.path.join(hoodie, "archived")
    os.makedirs(archived_dir, exist_ok=True)
    archive_path = os.path.join(archived_dir, "commits.archive")
    with open(archive_path, "a", encoding="utf-8") as fh:
        for instant, action in to_archive:
            meta = read_commit_metadata(base_path, instant, action)
            fh.write(json.dumps({"instant": instant, "action": action, "metadata": meta}))
            fh.write("\n")
    # the active dir is `.hoodie/timeline` on v8 tables, `.hoodie` before
    tdir = timeline_dir(base_path)
    for instant, action in to_archive:
        completed = completed_instant_file(base_path, instant, action)
        if completed and os.path.exists(completed):
            os.unlink(completed)
        for suffix in (f"{action}.requested", f"{action}.inflight", "inflight"):
            p = os.path.join(tdir, f"{instant}.{suffix}")
            if os.path.exists(p):
                os.unlink(p)
    return [i for i, _ in to_archive]


# ---------------------------------------------------------------------------
# Paimon
# ---------------------------------------------------------------------------


def paimon_expire_snapshots(base_path: str, keep_last: int = 1) -> list[int]:
    """Paimon snapshot expiration (CoreOptions snapshot.num-retained.*
    behavior): delete snapshot-N files older than the newest ``keep_last``
    and advance the EARLIEST hint. Head reads are unaffected (the
    retained snapshots' base lists still cover full state); expired ids
    become unreachable, which the source's incremental-safety check
    (earliest > target) detects, forcing a FULL re-sync — the same
    contract as Iceberg expiration here."""
    snap_dir = os.path.join(base_path, "snapshot")
    if not os.path.isdir(snap_dir):
        return []
    ids = sorted(
        int(n[len("snapshot-") :])
        for n in os.listdir(snap_dir)
        if n.startswith("snapshot-") and n[len("snapshot-") :].isdigit()
    )
    if len(ids) <= keep_last:
        return []
    expired = ids[:-keep_last]
    for sid in expired:
        os.unlink(os.path.join(snap_dir, f"snapshot-{sid}"))
    with open(os.path.join(snap_dir, "EARLIEST"), "w", encoding="utf-8") as fh:
        fh.write(str(ids[-keep_last]))
    return expired


def hudi_rollback_pending(base_path: str, *, before: Optional[str] = None) -> dict:
    """Roll back TORN instants — requested/inflight markers whose commit
    never completed (a crashed writer's leftovers; this engine's commits
    are atomic put-if-absent, so torn markers only ever come from a
    process dying between marker and completion). Real Hudi's rollback
    table service: remove the markers and record a completed
    ``.rollback`` instant naming what was rolled back, honoring the
    table's timeline layout (v6 and the 1.0 timeline dir). Data files
    are never touched — the engine stages data through temp dirs and
    publishes by rename, so an uncompleted instant has published
    nothing (no files to delete, unlike real Hudi's marker-file walk).

    ``before``: only instants strictly older than this instant roll
    back (guard against racing a LIVE in-flight writer — real Hudi's
    cleaner uses a time lag the same way); default rolls back every
    torn instant, which is only safe when no writer is running.

    Returns {"instant": rollback instant or None, "rolled_back": [...]}.
    """
    import uuid as _uuid

    from incubator_xtable_spark.sources.hudi_source import read_properties
    from incubator_xtable_spark.targets.hudi_target import (
        instant_now,
        timeline_dir,
    )

    d = timeline_dir(base_path)
    if not os.path.isdir(d):
        return {"instant": None, "rolled_back": []}
    # completed (instant, action) pairs for EVERY action — write actions
    # AND table services (clean/rollback/savepoint), which also run the
    # requested -> inflight -> completed lifecycle and leave their
    # markers behind; classifying a completed clean's leftovers as torn
    # would delete a finished service's lifecycle record. One parser
    # for both timeline namings: hudi_target._parse_completed_name.
    from incubator_xtable_spark.targets.hudi_target import _parse_completed_name

    completed_any: set[tuple[str, str]] = set()
    for fn in os.listdir(d):
        parsed = _parse_completed_name(fn, any_action=True)
        if parsed is not None:
            completed_any.add((parsed[0], parsed[1]))
    # pending markers: <instant>.<action>.requested / .<action>.inflight,
    # plus the commit action's bare <instant>.inflight special case
    pending: dict[str, list[str]] = {}
    for fn in os.listdir(d):
        stem, _, suffix = fn.partition(".")
        if not stem.isdigit() or not suffix:
            continue
        if suffix == "inflight":
            action = "commit"
        elif suffix.endswith(".requested"):
            action = suffix[: -len(".requested")]
        elif suffix.endswith(".inflight"):
            action = suffix[: -len(".inflight")]
        else:
            continue
        if "." in action or not action:
            continue
        if (stem, action) in completed_any:
            continue  # normal lifecycle leftovers of a COMPLETED instant
        if before is not None and stem >= before:
            continue  # possibly a live writer — out of scope
        pending.setdefault(stem, []).append(fn)
    if not pending:
        return {"instant": None, "rolled_back": []}
    for fns in pending.values():
        for fn in fns:
            os.unlink(os.path.join(d, fn))
    props = read_properties(base_path)
    v8 = int(props.get("hoodie.table.version", "6")) >= 8
    instant = instant_now()
    meta = {
        "startRollbackTime": instant,
        "instantsRollback": sorted(pending),
        "totalFilesDeleted": 0,  # metadata-only staging: nothing published
    }
    final = os.path.join(
        d, f"{instant}_{instant_now()}.rollback" if v8 else f"{instant}.rollback"
    )
    tmp = final + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh, sort_keys=True)
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise RuntimeError(f"concurrent Hudi rollback at instant {instant}") from exc
    finally:
        os.unlink(tmp)
    return {"instant": instant, "rolled_back": sorted(pending)}


def hudi_clean(spark, base_path: str, *, keep_last: int = 10) -> dict:
    """Hudi CLEAN with the KEEP_LATEST_COMMITS policy (real Hudi's
    default cleaner): reclaim file slices that no RETAINED commit view
    references — the boundary ("earliestCommitToRetain") is the
    keep_last-th newest completed write instant; savepointed instants
    pin their views like real Hudi's savepoint contract. Completes the
    maintenance matrix: delta_vacuum <-> hudi_clean <->
    iceberg_expire_snapshots <-> paimon_expire_snapshots.

    Conversion-engine adaptation (documented, deliberate): this table's
    data files are mostly EXTERNAL — they belong to the SOURCE table
    (hudi_target maps them by fileId without copying), so deleting them
    would destroy the source. Clean therefore physically deletes only
    ENGINE-CREATED rewrite artifacts (clustering outputs
    ``clustered-*.parquet``, compaction shadows ``*.compacted-*``) that
    left every retained view, and reports external files that aged out
    of retention under ``skipped_external`` without touching them.
    Timeline: a real requested -> inflight -> completed ``.clean``
    instant under the table's own layout (v6 or the 1.0 timeline dir);
    the payload is this engine's JSON convention (real Hudi serializes
    HoodieCleanMetadata as Avro — byte-level interop is NOT claimed for
    the clean payload, unlike the commit JSON which real Hudi also
    stores as JSON). After a clean, time travel to instants before the
    boundary refuses naturally (the view resolves paths that no longer
    exist); head reads are unaffected.

    Scale: ONE driver-side timeline replay yields per-path liveness
    intervals (hudi_source.file_liveness_intervals); every retained/
    savepointed view resolves against them by binary search —
    O(timeline + files·log(instants)) total, loadtested at the
    100k-file shape. Nothing data-sized runs.
    Returns {"instant", "earliest_retained", "deleted",
    "skipped_external"}."""
    import uuid as _uuid

    from incubator_xtable_spark.sources.hudi_source import read_properties
    from incubator_xtable_spark.targets.hudi_target import (
        instant_now,
        list_completed_instants,
        timeline_dir,
    )

    instants = list_completed_instants(base_path)
    if len(instants) <= keep_last:
        return {"instant": None, "earliest_retained": None, "deleted": [], "skipped_external": []}
    boundary = instants[-keep_last][0]
    pinned = set(hudi_list_savepoints(base_path))
    view_instants = sorted(
        {i for i, _ in instants if i >= boundary} | (pinned & {i for i, _ in instants})
    )

    # ONE timeline replay produces per-path liveness intervals; a path is
    # in an instant's view iff add <= instant < remove. Each view set
    # then resolves by binary search instead of its own full replay —
    # O(timeline + files·log(instants)) total (the r12 watch item:
    # per-instant replays were O(retained × timeline)).
    import bisect

    from incubator_xtable_spark.sources.hudi_source import file_liveness_intervals

    intervals = file_liveness_intervals(base_path)
    pre_boundary = sorted(
        i for i, _a in instants if i < boundary and i not in pinned
    )

    def _covered(add: str, remove, instants_sorted: list) -> bool:
        """True iff some instant i in the sorted list satisfies
        add <= i and (remove is None or i < remove)."""
        j = bisect.bisect_left(instants_sorted, add)
        return j < len(instants_sorted) and (
            remove is None or instants_sorted[j] < remove
        )

    keep = {p for p, a, r in intervals if _covered(a, r, view_instants)}
    ever = {p for p, a, r in intervals if _covered(a, r, pre_boundary)}
    cleanable = sorted(ever - keep)

    deleted: list[str] = []
    skipped_external: list[str] = []
    for rel in cleanable:
        name = os.path.basename(rel)
        engine_owned = (
            name.startswith("clustered-")
            or name.startswith("optimized-")
            or ".compacted-" in name
        )
        ap = os.path.join(base_path, rel)
        if engine_owned:
            if os.path.exists(ap):
                os.unlink(ap)
                deleted.append(rel)
        else:
            skipped_external.append(rel)

    # the clean instant: requested -> inflight -> completed, honoring the
    # table's timeline layout (no-op cleans write no instant, like real
    # Hudi's cleaner skipping an empty plan)
    if not deleted and not skipped_external:
        return {
            "instant": None,
            "earliest_retained": boundary,
            "deleted": [],
            "skipped_external": [],
        }
    props = read_properties(base_path)
    v8 = int(props.get("hoodie.table.version", "6")) >= 8
    d = timeline_dir(base_path)
    os.makedirs(d, exist_ok=True)
    instant = instant_now()
    meta = {
        "startCleanTime": instant,
        "policy": "KEEP_LATEST_COMMITS",
        "retainedCommits": keep_last,
        "earliestCommitToRetain": boundary,
        "filesDeleted": deleted,
        "externalFilesSkipped": skipped_external,
        "totalFilesDeleted": len(deleted),
    }
    for suffix in ("clean.requested", "clean.inflight"):
        open(os.path.join(d, f"{instant}.{suffix}"), "w", encoding="utf-8").close()
    final = os.path.join(
        d, f"{instant}_{instant_now()}.clean" if v8 else f"{instant}.clean"
    )
    tmp = final + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh, sort_keys=True)
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise RuntimeError(f"concurrent Hudi clean at instant {instant}") from exc
    finally:
        os.unlink(tmp)
    return {
        "instant": instant,
        "earliest_retained": boundary,
        "deleted": deleted,
        "skipped_external": skipped_external,
    }


def hudi_clean_mor_shadows(spark, base_path: str) -> list[str]:
    """Delete compaction shadows superseded by the CURRENT head state.

    Snapshot-view syncs materialize one shadow per (log-file list,
    applied-block boundary); every deltacommit that appends to a slice's
    log file therefore leaves the previous boundary's shadow behind —
    deliberately, because target tables' earlier versions still
    reference it. This maintenance action reclaims that space once
    history is no longer needed: targets lose time travel to versions
    referencing the removed shadows (the same contract as delta_vacuum).
    Returns the removed relative paths."""
    import glob as _glob

    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource
    from incubator_xtable_spark.targets.hudi_target import list_completed_instants

    src = HudiConversionSource(spark, base_path, view="snapshot")
    table = src.get_current_table()
    instants = list_completed_instants(base_path)
    if table is None or not instants:
        return []
    current = {r["path"] for r in src._effective_rows(instants[-1][0], table)}
    removed: list[str] = []
    for p in _glob.glob(
        os.path.join(base_path, "**", "*.compacted-*.parquet"), recursive=True
    ):
        rel = os.path.relpath(p, base_path)
        if rel not in current:
            os.unlink(p)
            removed.append(rel)
    return sorted(removed)


def _scan_as_stored(spark: SparkSession, paths: list[str], positions: list) -> DataFrame:
    """The rows of parquet ``paths`` in the columns their footer stores,
    minus the deleted ``positions`` (data path, positions) pairs: what a
    compaction rewrites."""
    from incubator_xtable_spark.model.file_formats import PARQUET
    from incubator_xtable_spark.sources.file_scan import ScanGroup, scan_files

    fields = spark.read.parquet(*paths).schema
    return scan_files(spark, [ScanGroup(PARQUET, paths, fields)], fields, positions=positions)


def delta_optimize(
    spark: SparkSession,
    base_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_file_bytes: Optional[int] = None,
    zorder_by: Optional[list[str]] = None,
) -> dict:
    """Delta OPTIMIZE — small-file bin-packing compaction, the
    maintenance pass a streaming-ingested table needs before its file
    count throttles every reader. Per partition, data files below
    ``min_file_bytes`` (default target/2) — plus every file carrying a
    deletion vector, which compaction APPLIES and drops, real
    OPTIMIZE's behavior — rewrite into files sized toward
    ``target_file_bytes``; the commit is the spec's rewrite shape:
    remove + add pairs with ``dataChange=false``, so CDF derivation
    emits NO row changes for it (readers see a pure layout change) and
    time travel to pre-optimize versions still resolves the old files.

    ``zorder_by`` switches to OPTIMIZE ZORDER BY semantics (real
    Delta's): EVERY live file of each partition rewrites (Z-ordering is
    a layout change, not just small-file cleanup) through the Morton
    clustering writer (functions/zorder.zorder_write — one global-bounds
    aggregate + one range shuffle per partition), so each output file
    covers a narrow hyper-rectangle and min/max stats prune on all the
    named columns; the commit records zOrderBy in operationParameters
    like delta-spark. The row-preservation, CDF-silence and time-travel
    guarantees are identical to the plain pass (shared commit path).

    Honest refusals: columnMapping tables (a rewrite must emit physical
    column names) and Row Tracking tables (merging files breaks
    positional baseRowId lineage; real Delta materializes a row-id
    column for this — not a metadata-only move) raise loudly.

    Scale: candidate selection is a driver pass over the LIVE file
    inventory (metadata-sized); each partition's rewrite is one
    distributed read->coalesce->write job sized by the bin math; stats
    for the new files come from one driver-side footer pass
    (parquet_source.footer_stat_rows). ICT tables get a monotonic
    inCommitTimestamp. Returns {"removed": [...], "added": [...],
    "version": committed version or None when nothing qualified}.
    """
    import math
    import time as _time
    import uuid as _uuid

    from pyspark.sql import types as T

    from incubator_xtable_spark.model.stat_codec import to_delta_stats_json
    from incubator_xtable_spark.sources.delta_dv import read_dv_positions
    from incubator_xtable_spark.sources.delta_source import (
        _dv_of,
        latest_action,
        list_log_versions,
        live_adds,
        read_commit_ict,
    )
    from incubator_xtable_spark.sources.parquet_source import footer_stat_rows

    meta = latest_action(base_path, "metaData")
    if meta is None:
        raise ValueError(f"not a delta table: {base_path}")
    cfg = dict(meta["configuration"] or {})
    if cfg.get("delta.columnMapping.mode") not in (None, "none"):
        raise NotImplementedError(
            "delta_optimize on a columnMapping table needs physical-name "
            "rewrites; not supported"
        )
    if cfg.get("delta.enableRowTracking") == "true":
        raise NotImplementedError(
            "delta_optimize on a Row Tracking table would break positional "
            "baseRowId lineage (a rewrite must materialize row ids); not "
            "supported"
        )
    min_file_bytes = min_file_bytes or target_file_bytes // 2
    version = max(list_log_versions(base_path))
    rows = live_adds(base_path, version).values()
    base = base_path.rstrip("/") + "/"

    def _abs(p: str) -> str:
        return p if p.startswith("/") else base + p

    groups: dict = {}
    for r in rows:
        key = tuple(sorted((r["partitionValues"] or {}).items()))
        groups.setdefault(key, []).append(r)

    removed: list[dict] = []
    added: list[tuple[str, dict]] = []  # (new rel path, partitionValues)
    for key, members in groups.items():
        pv = dict(key)
        if zorder_by:
            # ZORDER rewrites the whole partition: clustering is a layout
            # change for every row, not just the small files
            cand = list(members)
        else:
            cand = [r for r in members if r["size"] < min_file_bytes or _dv_of(r)]
        only_dv = [r for r in cand if _dv_of(r)]
        if not zorder_by and len(cand) < 2 and not only_dv:
            continue
        if zorder_by and not cand:
            continue
        df = _scan_as_stored(
            spark,
            [_abs(r["path"]) for r in cand],
            [(_abs(r["path"]), read_dv_positions(base_path, _dv_of(r))) for r in only_dv],
        )
        n_out = max(1, math.ceil(sum(r["size"] for r in cand) / target_file_bytes))
        tmp = os.path.join(base_path, f".optimize-{_uuid.uuid4().hex}")
        if zorder_by:
            from incubator_xtable_spark.functions.zorder import zorder_write

            missing = [c for c in zorder_by if c not in df.columns]
            if missing:
                raise ValueError(f"zorder_by columns not in data schema: {missing}")
            zorder_write(df, list(zorder_by), tmp, n_files=n_out)
        else:
            df.coalesce(n_out).write.parquet(tmp)
        import glob as _glob
        import shutil as _shutil

        for part in sorted(_glob.glob(os.path.join(tmp, "part-*.parquet"))):
            new_name = f"optimized-{_uuid.uuid4().hex}.parquet"
            _shutil.move(part, os.path.join(base_path, new_name))
            added.append((new_name, pv))
        _shutil.rmtree(tmp)
        for r in cand:
            removed.append({"path": r["path"], "size": r["size"]})
    if not added:
        return {"removed": [], "added": [], "version": None}

    # stats for the new files: one driver-side footer pass
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_names = set(meta["partitionColumns"] or [])
    data_fields = T.StructType([f for f in schema.fields if f.name not in part_names])
    stats_by_path = {
        path: (n_records, col_stats)
        for path, n_records, col_stats in footer_stat_rows(
            [os.path.join(base_path, p) for p, _ in added], data_fields
        )
    }

    now_ms = int(_time.time() * 1000)
    lines = []
    commit_info: dict = {
        "timestamp": now_ms,
        "operation": "OPTIMIZE",
        "operationParameters": {
            "targetSize": str(target_file_bytes),
            "minFileSize": str(min_file_bytes),
        },
    }
    if zorder_by:
        commit_info["operationParameters"]["zOrderBy"] = json.dumps(list(zorder_by))
    if cfg.get("delta.enableInCommitTimestamps") == "true":
        log_dir = os.path.join(base_path, "_delta_log")
        prev_ict = read_commit_ict(os.path.join(log_dir, f"{version:020d}.json")) or 0
        commit_info["inCommitTimestamp"] = max(prev_ict + 1, now_ms)
    lines.append(json.dumps({"commitInfo": commit_info}))
    for r in removed:
        lines.append(
            json.dumps(
                {
                    "remove": {
                        "path": r["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": False,
                        "size": r["size"],
                    }
                }
            )
        )
    for rel, pv in added:
        absolute = os.path.join(base_path, rel)
        n_records, col_stats = stats_by_path[absolute]
        lines.append(
            json.dumps(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": pv,
                        "size": os.path.getsize(absolute),
                        "modificationTime": now_ms,
                        "dataChange": False,
                        "stats": to_delta_stats_json(n_records, col_stats, data_fields),
                    }
                }
            )
        )
    new_version = version + 1
    log_dir = os.path.join(base_path, "_delta_log")
    final = os.path.join(log_dir, f"{new_version:020d}.json")
    tmp_f = final + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp_f, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    try:
        os.link(tmp_f, final)
    except FileExistsError as exc:
        raise RuntimeError(f"concurrent delta commit at version {new_version}") from exc
    finally:
        os.unlink(tmp_f)
    return {
        "removed": [r["path"] for r in removed],
        "added": [p for p, _ in added],
        "version": new_version,
    }


def iceberg_rewrite_data_files(
    spark: SparkSession,
    base_path: str,
    *,
    table_name: Optional[str] = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_file_bytes: Optional[int] = None,
) -> dict:
    """Iceberg rewrite-data-files (the RewriteDataFiles/OPTIMIZE twin of
    delta_optimize): per partition, data files below ``min_file_bytes``
    — plus every file with APPLICABLE position/puffin deletes, which the
    rewrite applies and drops — compact toward ``target_file_bytes``.
    The commit is a snapshot with summary operation ``replace``: carried
    files stay EXISTING at their sequence numbers, the delete set
    restates to empty (every delete-carrying file was rewritten; deletes
    that never applied are dead and drop with them), and BOTH CDC
    consumers (read_iceberg_cdc and the iceberg_cdc stream source) skip
    replace snapshots — a layout change is never row churn.

    Honest refusals: equality deletes (content=2 semantics survive
    rewrites only with per-row key evaluation) and format-version 3
    (merging files breaks positional first_row_id row lineage) raise.

    Scale: candidate selection walks the manifest plane (metadata-
    sized); each partition's rewrite is one distributed
    read->anti-join->coalesce->write job; new-file stats come from one
    driver-side footer pass. Returns {"removed", "added",
    "snapshot_id"} (snapshot_id None when nothing qualified)."""
    import math
    import uuid as _uuid

    from incubator_xtable_spark.model.core import ROW_DELETES_ARROW, TableChange, table_rows
    from incubator_xtable_spark.model.iceberg_manifests import live_entries
    from incubator_xtable_spark.sources.iceberg_source import (
        IcebergConversionSource,
        is_equality_delete,
    )
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    src = IcebergConversionSource(spark, base_path, name=table_name)
    meta = src._meta()
    if meta.get("format-version") == 3:
        raise NotImplementedError(
            "iceberg_rewrite_data_files on a v3 table would break positional "
            "first_row_id row lineage (a rewrite must materialize row ids); "
            "not supported"
        )
    table = src.get_current_table()
    sid = src._head_snapshot_id(meta)
    entries, delete_entries = live_entries(meta, sid)
    if any(is_equality_delete(e) for e in delete_entries):
        raise NotImplementedError(
            "iceberg_rewrite_data_files with equality deletes is not "
            "supported (content=2 application needs per-row key evaluation)"
        )
    min_file_bytes = min_file_bytes or target_file_bytes // 2
    resolved = src._resolve_deletes(entries, delete_entries)

    groups: dict = {}
    for e in entries:
        part = e["data_file"].get("partition") or {}
        key = tuple(sorted((k, str(v)) for k, v in part.items()))
        groups.setdefault(key, []).append(e)

    # partition_values serialization comes from the source's own
    # inventory mapping (identity values + transform spellings)
    inv_by_path = {
        r["physical_path"]: r
        for r in table_rows(src._to_inventory(entries, table, None))
    }

    removed_entries: list = []
    added_rows: list[tuple] = []
    now_ms = int(__import__("time").time() * 1000)
    for key, members in groups.items():
        cand = [
            e
            for e in members
            if int(e["data_file"].get("file_size_in_bytes") or 0) < min_file_bytes
            or e["data_file"]["file_path"] in resolved
        ]
        has_deletes = any(e["data_file"]["file_path"] in resolved for e in cand)
        if len(cand) < 2 and not has_deletes:
            continue
        paths = [e["data_file"]["file_path"] for e in cand]
        df = _scan_as_stored(
            spark, paths, [(p, resolved[p]) for p in paths if p in resolved]
        )
        total = sum(int(e["data_file"].get("file_size_in_bytes") or 0) for e in cand)
        n_out = max(1, math.ceil(total / target_file_bytes))
        data_dir = os.path.join(base_path, "data")
        os.makedirs(data_dir, exist_ok=True)
        tmp = os.path.join(base_path, f".rewrite-{_uuid.uuid4().hex}")
        df.coalesce(n_out).write.parquet(tmp)
        import glob as _glob
        import shutil as _shutil

        pv = inv_by_path[paths[0]]["partition_values"]
        pv = dict(pv) if pv else None
        for part_file in sorted(_glob.glob(os.path.join(tmp, "part-*.parquet"))):
            new_abs = os.path.join(data_dir, f"rewritten-{_uuid.uuid4().hex}.parquet")
            _shutil.move(part_file, new_abs)
            added_rows.append((new_abs, os.path.getsize(new_abs), pv))
        _shutil.rmtree(tmp)
        removed_entries.extend(cand)
    if not added_rows:
        return {"removed": [], "added": [], "snapshot_id": None}

    added_inv = _compacted_inventory(added_rows, table, now_ms)
    removed_inv = src._to_inventory(removed_entries, table, None)

    tgt = IcebergConversionTarget(
        spark,
        base_path,
        table_name=table_name or table.name,
        format_version=int(meta.get("format-version") or 2),
    )
    tgt.begin_sync(table)
    tgt.sync_schema(table.read_schema)
    tgt.sync_partition_spec(table.partition_fields)
    tgt.sync_files_for_diff(
        TableChange(
            table=table,
            commit_id="rewrite-data-files",
            files_added=added_inv,
            files_removed=removed_inv,
        )
    )
    if resolved:
        # every delete-carrying file was rewritten: restate the delete
        # set as EMPTY so stale delete manifests drop with their files
        tgt.sync_row_deletes(ROW_DELETES_ARROW.empty_table())
    tgt._summary_operation = "replace"
    new_sid = tgt.complete_sync()
    return {
        "removed": [e["data_file"]["file_path"] for e in removed_entries],
        "added": [p for p, _, _ in added_rows],
        "snapshot_id": new_sid,
    }


def hudi_cluster_small_files(
    spark: SparkSession,
    base_path: str,
    *,
    table_name: Optional[str] = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_file_bytes: Optional[int] = None,
) -> dict:
    """Hudi clustering (the replacecommit compaction twin of
    delta_optimize / iceberg_rewrite_data_files): per partition, base
    files below ``min_file_bytes`` rewrite toward ``target_file_bytes``
    and commit as a REPLACECOMMIT — replaced fileIds drop their groups,
    new files start fresh ones (exactly the shape real Hudi clustering
    writes and the engine's fs-view already replays). Driven through
    the HudiConversionTarget itself, so metadata-index deltas
    (files/col_stats, HFile when configured) stay maintained and the
    instant lifecycle/table-version layout (v6 or the 1.0 timeline)
    follow the table's own properties. CDC: a clustering rewrite
    changes no rows, so read_hudi_cdc's representation diff derives
    ZERO changes for the instant.

    Boundaries: file groups carrying MOR log files are skipped (real
    clustering must merge the log tail first — that is compaction, not
    clustering); non-parquet base files refuse in the target.

    Scale: the fs-view replay is the driver-side timeline pass the
    source already does; each partition's rewrite is one distributed
    read->coalesce->write; stats come from one driver-side footer pass.
    Returns {"removed", "added", "instant"} (instant None when nothing
    qualified)."""
    import math
    import uuid as _uuid

    from incubator_xtable_spark.model.core import FILE_INVENTORY_ARROW, TableChange, arrow_table
    from incubator_xtable_spark.sources.hudi_source import (
        HudiConversionSource,
        live_files_rows,
        read_properties,
    )
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    src = HudiConversionSource(spark, base_path, name=table_name)
    table = src.get_current_table()
    if table is None:
        raise ValueError(f"not a hudi table: {base_path}")
    min_file_bytes = min_file_bytes or target_file_bytes // 2
    rows = live_files_rows(base_path)
    base = base_path.rstrip("/") + "/"

    groups: dict = {}
    for r in rows:
        if r.get("path") is None:
            continue  # log-only group (no base file): clustering skips it
        groups.setdefault(os.path.dirname(r["path"]), []).append(r)

    removed: list[dict] = []
    added_rows: list[tuple] = []
    now_ms = int(__import__("time").time() * 1000)
    for partition, members in groups.items():
        cand = [
            r
            for r in members
            if int(r.get("size") or 0) < min_file_bytes and not r.get("log_files")
        ]
        if len(cand) < 2:
            continue
        paths = [base + r["path"] for r in cand]
        df = spark.read.parquet(*paths)
        total = sum(int(r.get("size") or 0) for r in cand)
        n_out = max(1, math.ceil(total / target_file_bytes))
        tmp = os.path.join(base_path, f".cluster-{_uuid.uuid4().hex}")
        df.coalesce(n_out).write.parquet(tmp)
        import glob as _glob
        import shutil as _shutil

        part_dir = os.path.join(base_path, partition) if partition else base_path
        os.makedirs(part_dir, exist_ok=True)
        for part_file in sorted(_glob.glob(os.path.join(tmp, "part-*.parquet"))):
            new_abs = os.path.join(part_dir, f"clustered-{_uuid.uuid4().hex}.parquet")
            _shutil.move(part_file, new_abs)
            added_rows.append((new_abs, os.path.getsize(new_abs)))
        _shutil.rmtree(tmp)
        removed.extend(cand)
    if not added_rows:
        return {"removed": [], "added": [], "instant": None}

    added_inv = _compacted_inventory(
        [(p, size, None) for p, size in added_rows], table, now_ms
    )
    removed_inv = arrow_table(
        [(base + r["path"], "PARQUET", int(r.get("size") or 0)) for r in removed],
        FILE_INVENTORY_ARROW,
    )

    props = read_properties(base_path)
    # index posture must FOLLOW the table, not this function's defaults:
    # an hfile-indexed table gets hfile deltas (mixed parquet/hfile
    # shapes would break the advertised-partition contract)
    advertised = [
        p
        for p in (props.get("hoodie.table.metadata.partitions") or "").split(",")
        if p
    ]
    meta_dir = os.path.join(base_path, ".hoodie", "metadata", "files")
    index_format = (
        "hfile"
        if os.path.isdir(meta_dir)
        and any(fn.endswith(".hfile") for fn in os.listdir(meta_dir))
        else "parquet"
    )
    tgt = HudiConversionTarget(
        spark,
        base_path,
        table_name=table_name or table.name,
        table_version=int(props.get("hoodie.table.version", "6")),
        metadata_indexes=bool(advertised),
        metadata_index_format=index_format,
    )
    tgt.begin_sync(table)
    tgt.sync_schema(table.read_schema)
    tgt.sync_partition_spec(table.partition_fields)
    tgt.sync_files_for_diff(
        TableChange(
            table=table,
            commit_id="cluster-small-files",
            files_added=added_inv,
            files_removed=removed_inv,
        )
    )
    instant = tgt.complete_sync()
    return {
        "removed": [r["path"] for r in removed],
        "added": [p[len(base):] if p.startswith(base) else p for p, _ in added_rows],
        "instant": instant,
    }


def _compacted_inventory(added: list[tuple], table, now_ms: int):
    """The inventory table of freshly written compaction outputs
    ``added`` [(path, size, partition_values)]: PARQUET, stamped
    ``now_ms``, counts and stats from one driver-side footer pass."""
    from pyspark.sql import types as T

    from incubator_xtable_spark.model.core import FILE_INVENTORY_ARROW, arrow_table
    from incubator_xtable_spark.sources.parquet_source import footer_stat_rows

    part_names = {pf.output_name for pf in table.partition_fields}
    data_fields = T.StructType([f for f in table.read_schema.fields if f.name not in part_names])
    stats = {p: (rc, cs) for p, rc, cs in footer_stat_rows([a[0] for a in added], data_fields)}
    return arrow_table(
        [(p, "PARQUET", size, stats[p][0], now_ms, pv, stats[p][1]) for p, size, pv in added],
        FILE_INVENTORY_ARROW,
    )


def paimon_compact_small_files(
    spark: SparkSession,
    base_path: str,
    *,
    table_name: Optional[str] = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_file_bytes: Optional[int] = None,
) -> dict:
    """Paimon compaction (completing the four-format maintenance
    quartet): per partition, data files below ``min_file_bytes``
    rewrite toward ``target_file_bytes`` and commit as a snapshot with
    commitKind=COMPACT — the delta manifest removes the old entries and
    adds the new ones, and BOTH changelog consumers
    (read_paimon_changelog and the paimon_changelog stream source)
    return an EMPTY changelog for COMPACT snapshots (layout change, not
    row churn — real Paimon semantics).

    Boundaries: PK tables are already impossible as engine targets;
    tables carrying a deletion-vector index refuse (compaction must
    apply DVs per file — follow-up; the shadow-based read path already
    gives row-accurate conversions meanwhile).

    Scale: inventory selection is metadata-plane; each partition's
    rewrite is one distributed read->coalesce->write; stats come from
    one driver-side footer pass. Returns {"removed", "added",
    "snapshot_id"}."""
    import math
    import uuid as _uuid

    from incubator_xtable_spark.model.core import (
        FILE_INVENTORY_ARROW,
        TableChange,
        arrow_table,
        table_rows,
    )
    from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

    src = PaimonConversionSource(spark, base_path, name=table_name)
    snap_meta = src._latest()
    if snap_meta.get("indexManifest"):
        raise NotImplementedError(
            "paimon_compact_small_files on a table with a deletion-vector "
            "index must apply the DVs per file; not supported"
        )
    snapshot = src.get_current_snapshot()
    table = snapshot.table
    min_file_bytes = min_file_bytes or target_file_bytes // 2
    rows = table_rows(snapshot.files)

    groups: dict = {}
    for r in rows:
        key = tuple(sorted((r["partition_values"] or {}).items()))
        groups.setdefault(key, []).append(r)

    removed: list = []
    added_rows: list[tuple] = []
    now_ms = int(__import__("time").time() * 1000)
    data_dir = os.path.join(base_path, "compacted")
    for key, members in groups.items():
        pv = dict(key) or None
        cand = [r for r in members if int(r["size_bytes"] or 0) < min_file_bytes]
        if len(cand) < 2:
            continue
        paths = [r["physical_path"] for r in cand]
        df = spark.read.parquet(*paths)
        total = sum(int(r["size_bytes"] or 0) for r in cand)
        n_out = max(1, math.ceil(total / target_file_bytes))
        os.makedirs(data_dir, exist_ok=True)
        tmp = os.path.join(base_path, f".compact-{_uuid.uuid4().hex}")
        df.coalesce(n_out).write.parquet(tmp)
        import glob as _glob
        import shutil as _shutil

        for part_file in sorted(_glob.glob(os.path.join(tmp, "part-*.parquet"))):
            new_abs = os.path.join(data_dir, f"compacted-{_uuid.uuid4().hex}.parquet")
            _shutil.move(part_file, new_abs)
            added_rows.append((new_abs, os.path.getsize(new_abs), pv))
        _shutil.rmtree(tmp)
        removed.extend(cand)
    if not added_rows:
        return {"removed": [], "added": [], "snapshot_id": None}

    added_inv = _compacted_inventory(added_rows, table, now_ms)
    removed_inv = arrow_table(removed, FILE_INVENTORY_ARROW)

    tgt = PaimonConversionTarget(spark, base_path, table_name=table_name or table.name)
    tgt.begin_sync(table)
    tgt.sync_schema(table.read_schema)
    tgt.sync_partition_spec(table.partition_fields)
    tgt.sync_files_for_diff(
        TableChange(
            table=table,
            commit_id="compact-small-files",
            files_added=added_inv,
            files_removed=removed_inv,
        )
    )
    tgt._commit_kind_override = "COMPACT"
    new_sid = tgt.complete_sync()
    return {
        "removed": [r["physical_path"] for r in removed],
        "added": [p for p, _, _ in added_rows],
        "snapshot_id": new_sid,
    }


def iceberg_remove_orphan_files(
    spark,
    base_path: str,
    *,
    older_than_ms: Optional[int] = None,
    dry_run: bool = True,
) -> dict:
    """Iceberg REMOVE ORPHAN FILES — the delta_vacuum analog (real
    Iceberg's RemoveOrphanFiles action): files under the table tree
    that NO snapshot of the current metadata references. Expiring
    snapshots deletes only their manifest-LIST files; their manifests
    (and any superseded rewrite outputs) linger until this action
    reclaims them.

    Referenced set: every snapshot's manifest-list + every manifest it
    names + every data/delete file path inside (puffin DVs ride the
    delete entries), plus all v*.metadata.json / version-hint /
    statistics / partition-statistics files.

    Conversion-engine ownership rule (same as hudi_clean): physical
    deletion only for ICEBERG-OWNED artifacts — files under metadata/
    and engine-created rewrite outputs (rewritten-*.parquet). Anything
    else unreferenced (external source-table files that aged out of
    history) is reported under ``skipped_external`` and never touched.
    ``older_than_ms`` guards against racing an in-flight commit (real
    Iceberg defaults to 3 days; None = no age filter — tests).

    Scale: the reference walk is the driver-side manifest replay every
    sync already performs (metadata plane); the directory scan is
    os.walk over the table tree — file-count-sized, no data reads.
    Returns {"orphans": [...], "skipped_external": [...], "deleted":
    bool} with paths relative to the table root."""
    import time as _time

    from incubator_xtable_spark.model.avro_codec import iter_ocf, read_ocf
    from incubator_xtable_spark.targets.iceberg_target import (
        metadata_dir,
        read_table_metadata,
    )

    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    base = base_path.rstrip("/")
    mdir = metadata_dir(base_path)

    referenced: set = set()
    for fn in os.listdir(mdir):
        if fn.endswith(".metadata.json") or fn == "version-hint.text":
            referenced.add(os.path.join(mdir, fn))
    for field in ("statistics", "partition-statistics"):
        for e in meta.get(field) or []:
            referenced.add(e["statistics-path"])
    for snap in meta.get("snapshots") or []:
        ml = snap.get("manifest-list")
        if not ml:
            continue
        referenced.add(ml)
        if not os.path.exists(ml):
            continue
        for mf in read_ocf(ml)[0]:
            referenced.add(mf["manifest_path"])
            if not os.path.exists(mf["manifest_path"]):
                continue
            for entry in iter_ocf(mf["manifest_path"]):
                p = entry["data_file"].get("file_path")
                if p:
                    referenced.add(p)
    # foreign writers may record file: URIs; normalize so a URI-form
    # reference never lets its target be misclassified as an orphan
    def _norm(p: str) -> str:
        if p.startswith("file://"):
            p = p[len("file://") :]
        elif p.startswith("file:"):
            p = p[len("file:") :]
        return os.path.abspath(p)

    referenced = {_norm(p) for p in referenced}

    cutoff = None if older_than_ms is None else _time.time() - older_than_ms / 1000.0
    orphans: list[str] = []
    skipped_external: list[str] = []
    skip_dirs = {"_delta_log", ".hoodie", "snapshot", "manifest", "schema", "tag", "index"}
    for root, dirs, files in os.walk(base):
        dirs[:] = [d for d in dirs if d not in skip_dirs and not d.startswith(".")]
        in_metadata = os.path.abspath(root).startswith(os.path.abspath(mdir))
        for fn in files:
            ap = os.path.abspath(os.path.join(root, fn))
            if ap in referenced:
                continue
            if cutoff is not None and os.path.getmtime(ap) > cutoff:
                continue
            rel = os.path.relpath(ap, base)
            if in_metadata or fn.startswith("rewritten-"):
                orphans.append(rel)
            elif fn.endswith(".parquet"):
                # unreferenced but SOURCE-owned: report, never delete
                skipped_external.append(rel)
    orphans.sort()
    skipped_external.sort()
    if not dry_run:
        for rel in orphans:
            os.unlink(os.path.join(base, rel))
    return {"orphans": orphans, "skipped_external": skipped_external, "deleted": not dry_run}


def hudi_create_savepoint(base_path: str, instant: str, comment: str = "") -> str:
    """Write a ``<instant>.savepoint`` timeline action (real Hudi's
    savepoint: pins a completed commit so cleaning/archival cannot drop
    it — the Hudi twin of an Iceberg tag). The instant must be a
    completed commit; `hudi_archive_timeline` skips savepointed instants
    so time travel to them keeps working after archival. Returns the
    completed savepoint path."""
    import uuid as _uuid

    from incubator_xtable_spark.targets.hudi_target import (
        completed_instant_file,
        list_completed_instants,
        timeline_dir,
    )

    completed = {i for i, _ in list_completed_instants(base_path)}
    if instant not in completed:
        raise ValueError(
            f"savepoint target {instant} is not a completed instant "
            f"(completed: {sorted(completed)[-3:]})"
        )
    d = timeline_dir(base_path)
    for suffix in ("savepoint.requested", "savepoint.inflight"):
        open(os.path.join(d, f"{instant}.{suffix}"), "w", encoding="utf-8").close()
    final = os.path.join(d, f"{instant}.savepoint")
    tmp = final + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"savepointedBy": "xtable-spark", "comments": comment}, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        pass  # already savepointed — idempotent
    finally:
        os.unlink(tmp)
    return final


def hudi_list_savepoints(base_path: str) -> list[str]:
    from incubator_xtable_spark.targets.hudi_target import timeline_dir

    d = timeline_dir(base_path)
    if not os.path.isdir(d):
        return []
    out = []
    for fn in os.listdir(d):
        parts = fn.split(".")
        if len(parts) == 2 and parts[1] == "savepoint" and parts[0].isdigit():
            out.append(parts[0])
    return sorted(out)


def hudi_delete_savepoint(base_path: str, instant: str) -> None:
    from incubator_xtable_spark.targets.hudi_target import timeline_dir

    d = timeline_dir(base_path)
    for suffix in ("savepoint", "savepoint.requested", "savepoint.inflight"):
        p = os.path.join(d, f"{instant}.{suffix}")
        if os.path.exists(p):
            os.unlink(p)


def delta_restore(spark: SparkSession, base_path: str, to_version: int) -> dict:
    """Delta RESTORE: one commit that returns the table's DATA to what
    version ``to_version`` served — files live then but since removed
    re-add (with their original stats/DV/row-id metadata), files added
    since remove, and files whose deletion vector changed re-commit with
    the old DV (the remove+add update shape). All actions carry
    dataChange=true — a restore IS row churn, and the CDF derivation
    correctly reports the restored/deleted rows. Protocol and metaData
    stay CURRENT (Delta RESTORE semantics: data travels, table config
    does not). Vacuumed files refuse loudly before anything is written.

    ICT tables get a monotonic inCommitTimestamp. Returns
    {"readded", "removed", "version"}."""
    import time as _time
    import uuid as _uuid

    from incubator_xtable_spark.sources.delta_source import (
        _dv_of,
        latest_action,
        list_log_versions,
        live_adds,
        read_commit_ict,
    )

    head = max(list_log_versions(base_path))
    if to_version >= head:
        raise ValueError(f"restore target {to_version} is not before head {head}")
    old = live_adds(base_path, to_version)
    new = live_adds(base_path, head)

    def _dv_id(add: dict) -> Optional[tuple]:
        dv = _dv_of(add)
        return None if dv is None else (dv["storageType"], dv["pathOrInlineDv"], dv["offset"])

    readds = [p for p in old if p not in new or _dv_id(old[p]) != _dv_id(new[p])]
    removes = [p for p in new if p not in old]
    if not readds and not removes:
        return {"readded": [], "removed": [], "version": None}
    base = base_path.rstrip("/") + "/"
    missing = [
        p for p in readds if not os.path.exists(p if p.startswith("/") else base + p)
    ]
    if missing:
        raise ValueError(
            f"restore to {to_version} needs {len(missing)} file(s) that were "
            f"vacuumed, e.g. {missing[:3]} — the version is no longer restorable"
        )

    meta = latest_action(base_path, "metaData")
    cfg = dict(meta["configuration"] or {}) if meta is not None else {}
    now_ms = int(_time.time() * 1000)
    commit_info: dict = {
        "timestamp": now_ms,
        "operation": "RESTORE",
        "operationParameters": {"version": str(to_version)},
    }
    if cfg.get("delta.enableInCommitTimestamps") == "true":
        log_dir = os.path.join(base_path, "_delta_log")
        prev_ict = read_commit_ict(os.path.join(log_dir, f"{head:020d}.json")) or 0
        commit_info["inCommitTimestamp"] = max(prev_ict + 1, now_ms)
    lines = [json.dumps({"commitInfo": commit_info})]
    for p in sorted(removes):
        lines.append(
            json.dumps(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                        "size": new[p]["size"],
                    }
                }
            )
        )
    for p in sorted(readds):
        d = old[p]
        add = {
            "path": p,
            "partitionValues": dict(d.get("partitionValues") or {}),
            "size": d["size"],
            "modificationTime": d.get("modificationTime") or now_ms,
            "dataChange": True,
            "stats": d.get("stats"),
        }
        for k in ("deletionVector", "baseRowId", "defaultRowCommitVersion"):
            if d.get(k) is not None:
                add[k] = d[k]
        if p in new:  # DV change: spec update shape is remove + re-add
            lines.append(
                json.dumps(
                    {
                        "remove": {
                            "path": p,
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                            "size": d["size"],
                        }
                    }
                )
            )
        lines.append(json.dumps({"add": add}))
    version = head + 1
    log_dir = os.path.join(base_path, "_delta_log")
    final = os.path.join(log_dir, f"{version:020d}.json")
    tmp = final + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise RuntimeError(f"concurrent delta commit at version {version}") from exc
    finally:
        os.unlink(tmp)
    return {"readded": sorted(readds), "removed": sorted(removes), "version": version}


def delta_shallow_clone(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    *,
    version: Optional[int] = None,
) -> dict:
    """Delta SHALLOW CLONE — a zero-copy, metadata-only table copy (the
    delta-spark operation): the clone's version-0 commit re-references
    the SOURCE's live files by ABSOLUTE path (the spec allows absolute
    add.path; this engine's readers already resolve them — conversion
    targets reference external files the same way). Relative 'u'-storage
    deletion vectors re-point through absolute 'p'-storage descriptors
    (offset/size/cardinality preserved), so even a delete-heavy table
    clones without touching a data byte — the same zero-rewrite property
    as the cross-format row-delete channel. The clone gets a FRESH table
    id and its own history (commitInfo operation CLONE with
    source/sourceVersion provenance); ``version`` clones a historical
    snapshot (time-travel clone). Protocol and table configuration carry
    over unchanged, so feature gating (DVs, column mapping, row
    tracking) stays correct.

    Caveat (same as delta-spark): VACUUM on the SOURCE does not know
    about clones — it can reclaim files the clone references. Clones are
    snapshots for experimentation/branching, not backups.

    Scale: metadata-sized — one log read of the source, one commit file
    written; no data moves. Returns {"cloned_files", "source_version",
    "version"}."""
    import time as _time
    import uuid as _uuid

    from incubator_xtable_spark.sources.delta_dv import dv_absolute_path
    from incubator_xtable_spark.sources.delta_source import (
        latest_action,
        latest_protocol,
        list_log_versions,
        live_adds,
    )

    src = os.path.abspath(src_path)
    dst = os.path.abspath(dst_path)
    versions = list_log_versions(src)
    if not versions:
        raise ValueError(f"not a delta table (no log): {src}")
    src_version = max(versions) if version is None else version
    if version is not None and version not in versions:
        # membership, not just <= head: negative versions and versions
        # whose JSON commits were pruned behind a checkpoint are equally
        # un-cloneable — refuse with the real reason, not a misleading
        # "no metaData" downstream error
        raise ValueError(
            f"clone version {version} is not available "
            f"(retained log versions: {versions[0]}..{versions[-1]})"
        )
    meta = latest_action(src, "metaData", src_version)
    if meta is None:
        raise ValueError(f"not a delta table (no metaData): {src}")
    proto = latest_protocol(src, src_version)
    if proto is None:
        raise ValueError(f"not a delta table (no protocol): {src}")
    proto = {k: v for k, v in proto.items() if v is not None}
    now_ms = int(_time.time() * 1000)
    md_out = {
        "id": str(_uuid.uuid4()),  # a clone is a NEW table identity
        "format": {
            "provider": (meta.get("format") or {}).get("provider") or "parquet",
            "options": dict((meta.get("format") or {}).get("options") or {}),
        },
        "schemaString": meta["schemaString"],
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "configuration": dict(meta.get("configuration") or {}),
        "createdTime": now_ms,
    }
    if meta.get("name"):
        md_out["name"] = meta["name"]

    src_base = src.rstrip("/") + "/"
    rows = live_adds(src, src_version).values()
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CLONE",
                    "operationParameters": {
                        "source": src,
                        "sourceVersion": str(src_version),
                    },
                }
            }
        ),
        json.dumps({"protocol": proto}),
        json.dumps({"metaData": md_out}),
    ]
    for d in sorted(rows, key=lambda x: x["path"]):
        p = d["path"]
        add = {
            "path": p if p.startswith("/") else src_base + p,
            "partitionValues": dict(d.get("partitionValues") or {}),
            "size": d["size"],
            "modificationTime": d.get("modificationTime") or now_ms,
            "dataChange": True,
        }
        if d.get("stats"):
            add["stats"] = d["stats"]
        for k in ("baseRowId", "defaultRowCommitVersion"):
            if d.get(k) is not None:
                add[k] = d[k]
        dv = d.get("deletionVector")
        if dv and dv.get("storageType"):
            if dv["storageType"] == "u":
                # relative storage resolves against the TABLE path — in
                # the clone that would point at the wrong tree; re-point
                # through the spec's absolute 'p' storage, same bytes
                dv = {
                    "storageType": "p",
                    "pathOrInlineDv": dv_absolute_path(src, dv),
                    "offset": dv.get("offset"),
                    "sizeInBytes": dv["sizeInBytes"],
                    "cardinality": dv["cardinality"],
                }
            add["deletionVector"] = {k: v for k, v in dv.items() if v is not None}
        lines.append(json.dumps({"add": add}))

    log_dir = os.path.join(dst, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    final = os.path.join(log_dir, f"{0:020d}.json")
    tmp = final + f".tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise RuntimeError(f"destination is already a delta table: {dst}") from exc
    finally:
        os.unlink(tmp)
    return {
        "cloned_files": len(rows),
        "source_version": src_version,
        "version": 0,
    }
