"""RunSync CLI — YAML-driven conversion entry point.

Reference parity: xtable-utilities RunSync.java:72-280 (config shape kept
compatible where it applies):

    sourceFormat: PARQUET            # or DELTA
    targetFormats:
      - DELTA
    datasets:
      - tableBasePath: /data/my_table
        tableName: my_table
        partitionSpec: col:VALUE     # optional, field:TRANSFORM[:fmt]
      - tableBasePath: /data/other
        tableDataPath: /data/other   # optional distinct data dir
        tableName: other

Usage:
    python -m incubator_xtable_spark.run_sync --config cfg.yaml
        [--mode FULL|INCREMENTAL] [--continuous] [--interval 5]

Continuous mode re-reads the config each tick like the reference
(RunSync.java:257-280). Exits nonzero if any target errored.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from typing import Any

from incubator_xtable_spark.model.core import (
    InternalPartitionField,
    PartitionTransformType,
    SyncMode,
    SyncStatusCode,
    TableFormat,
)
from incubator_xtable_spark.session import get_spark
from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionConfig, ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget


def parse_partition_spec(spec: str | None) -> list[InternalPartitionField]:
    """``field:TRANSFORM[:fmt]`` (hudi/HudiSourceConfig.java:63-80)."""
    if not spec:
        return []
    out = []
    for part in spec.split(","):
        pieces = part.strip().split(":")
        name = pieces[0]
        transform = PartitionTransformType(pieces[1].upper()) if len(pieces) > 1 else PartitionTransformType.VALUE
        fmt = pieces[2] if len(pieces) > 2 else None
        out.append(InternalPartitionField(source_field=name, transform=transform, date_format=fmt))
    return out


def load_config(path: str) -> dict[str, Any]:
    """Parse the YAML config. Full YAML needs no external dependency here:
    the reference config shape is a flat mapping + one list, which this
    purpose-built reader handles; a JSON config is also accepted."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    if path.endswith(".json"):
        return json.loads(text)
    return _parse_mini_yaml(text)


def _parse_mini_yaml(text: str) -> dict[str, Any]:
    """Flat mapping + lists-of-flat-mappings only (the reference config
    shape). Deeper nesting raises instead of silently half-parsing."""
    root: dict[str, Any] = {}
    current_list: list[Any] | None = None
    current_item: dict[str, Any] | None = None
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].rstrip()
        if not line.strip():
            continue
        indent = len(line) - len(line.lstrip())
        stripped = line.strip()
        if indent == 0:
            current_item = None
            if stripped.endswith(":"):
                current_list = []
                root[stripped[:-1]] = current_list
            else:
                key, _, val = stripped.partition(":")
                root[key.strip()] = val.strip()
                current_list = None
        elif stripped.startswith("- "):
            if current_list is None:
                raise ValueError(f"unexpected list item: {raw!r}")
            body = stripped[2:]
            if ":" in body:
                current_item = {}
                k, _, v = body.partition(":")
                current_item[k.strip()] = v.strip()
                current_list.append(current_item)
            else:
                current_item = None
                current_list.append(body.strip())
        else:
            if current_item is None:
                raise ValueError(f"unexpected continuation: {raw!r}")
            if stripped.endswith(":"):
                raise ValueError(
                    f"unsupported nesting (this purpose-built reader handles "
                    f"flat mappings and lists of flat mappings only): {raw!r}"
                )
            k, _, v = stripped.partition(":")
            current_item[k.strip()] = v.strip()
    return root


def build_source(spark, fmt: str, dataset: dict[str, Any]):
    base = dataset["tableBasePath"]
    name = dataset.get("tableName")
    if fmt == TableFormat.PARQUET.value:
        return ParquetConversionSource(
            spark, base, name=name, partition_fields=parse_partition_spec(dataset.get("partitionSpec"))
        )
    emit_rc = str(dataset.get("emitRowChanges", "")).lower() == "true"
    if fmt == TableFormat.DELTA.value:
        return DeltaConversionSource(spark, base, name=name, emit_row_changes=emit_rc)
    if fmt == TableFormat.HUDI.value:
        from incubator_xtable_spark.sources.hudi_source import HudiConversionSource

        return HudiConversionSource(
            spark,
            base,
            name=name,
            # "snapshot" syncs the MOR real-time view via compaction shadows
            view=dataset.get("hudiView", "read_optimized"),
            emit_row_changes=emit_rc,
        )
    if fmt == TableFormat.ICEBERG.value:
        from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource

        return IcebergConversionSource(spark, base, name=name, emit_row_changes=emit_rc)
    if fmt == TableFormat.PAIMON.value:
        from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

        return PaimonConversionSource(spark, base, name=name, emit_row_changes=emit_rc)
    raise ValueError(f"unsupported source format: {fmt}")


def build_target(spark, fmt: str, dataset: dict[str, Any]):
    base = dataset.get("tableDataPath", dataset["tableBasePath"])
    if fmt == TableFormat.DELTA.value:
        return DeltaConversionTarget(
            spark,
            base,
            # "v2" -> UUID+sidecar checkpoints (v2Checkpoint table feature)
            checkpoint_layout=dataset.get("deltaCheckpointLayout", "classic"),
            # persist CDC-channel row changes as Change Data Files
            change_feed=str(dataset.get("deltaChangeFeed", "")).lower() == "true",
            # monotonic commitInfo.inCommitTimestamp (writer table feature)
            in_commit_timestamps=str(
                dataset.get("deltaInCommitTimestamps", "")
            ).lower()
            == "true",
            # baseRowId/defaultRowCommitVersion on adds + high-watermark
            # domain (writer table feature; creation-only)
            row_tracking=str(dataset.get("deltaRowTracking", "")).lower() == "true",
            # declared clustering layout (delta.clustering domain +
            # clustering writer feature); comma-separated column names
            clustering_columns=[
                c.strip()
                for c in str(dataset.get("deltaClusteringColumns", "")).split(",")
                if c.strip()
            ],
            # <version>.crc post-commit state summaries (delta-spark's
            # VersionChecksum sidecar), incrementally maintained
            version_checksum=str(dataset.get("deltaVersionChecksum", "")).lower()
            == "true",
        )
    if fmt == TableFormat.HUDI.value:
        from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

        return HudiConversionTarget(
            spark,
            base,
            table_name=dataset.get("tableName"),
            # persist CDC-channel row changes as CDC supplemental blocks
            change_feed=str(dataset.get("hudiChangeFeed", "")).lower() == "true",
            # "hfile" -> REAL Hudi metadata-table layout (HFile bases +
            # delta logs + compaction, hashed record keys)
            metadata_index_format=dataset.get("hudiMetadataIndexFormat", "parquet"),
            metadata_index_compact_every=int(
                dataset.get("hudiMetadataIndexCompactEvery", 10)
            ),
            partition_stats=str(dataset.get("hudiPartitionStats", "")).lower() == "true",
            # 8 -> Hudi 1.0 active-timeline layout (.hoodie/timeline,
            # completion-time instant filenames)
            table_version=int(dataset.get("hudiTableVersion", 6)),
        )
    if fmt == TableFormat.ICEBERG.value:
        from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

        return IcebergConversionTarget(
            spark,
            base,
            table_name=dataset.get("tableName"),
            # v3 writes row deletes as puffin deletion vectors
            format_version=int(dataset.get("icebergFormatVersion", 2)),
            # write-audit-publish: stage commits on a ref; publish with
            # targets.iceberg_target.publish_branch
            branch=dataset.get("icebergBranch", "main"),
        )
    if fmt == TableFormat.PAIMON.value:
        from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

        return PaimonConversionTarget(spark, base, table_name=dataset.get("tableName"))
    raise ValueError(f"unsupported target format: {fmt}")


def _resolve_impl(spec: str):
    """``module.path:attr`` -> the attribute (the reference's custom
    catalogSyncClientImpl plug-point, ExternalCatalogConfig.java)."""
    import importlib

    mod_name, _, attr = spec.partition(":")
    obj: Any = importlib.import_module(mod_name)
    for part in attr.split("."):
        obj = getattr(obj, part)
    return obj


def _parse_props(raw: str | None) -> dict[str, str]:
    """Flat ``k=v,k2=v2`` catalogProperties string."""
    if not raw:
        return {}
    out = {}
    for pair in raw.split(","):
        k, _, v = pair.partition("=")
        out[k.strip()] = v.strip()
    return out


def build_catalog_clients(cfg: dict[str, Any]) -> dict[str, Any]:
    """``targetCatalogs`` section -> {catalogId: live client}
    (RunCatalogSync.java:141-143 catalogsById). Each entry names a
    factory via catalogSyncClientImpl (module:callable, called with the
    catalogProperties dict) — the reference's custom-impl config shape;
    real HMS/Glue deployments wire thrift/boto3 transports there."""
    clients: dict[str, Any] = {}
    for entry in cfg.get("targetCatalogs") or []:
        factory = _resolve_impl(entry["catalogSyncClientImpl"])
        clients[entry["catalogId"]] = factory(_parse_props(entry.get("catalogProperties")))
    return clients


def parse_catalog_idents(raw: str | None) -> list[tuple[str, str, str, str]]:
    """Per-dataset ``catalogId:database.table:FORMAT`` list ->
    [(catalog_id, database, table, format)] (the flat rendering of
    RunCatalogSync's targetCatalogTableIdentifiers)."""
    out = []
    for item in (raw or "").split(","):
        item = item.strip()
        if not item:
            continue
        cat_id, _, rest = item.partition(":")
        ident, _, fmt = rest.partition(":")
        db, _, tbl = ident.partition(".")
        if not (cat_id and db and tbl and fmt):
            raise ValueError(
                f"targetCatalogTableIdentifiers entry must be "
                f"'catalogId:database.table:FORMAT', got {item!r}"
            )
        out.append((cat_id, db, tbl, fmt.upper()))
    return out


def run_once(spark, cfg: dict[str, Any], mode: SyncMode) -> int:
    from incubator_xtable_spark.sync.controller import TargetCatalogConfig

    source_format = cfg["sourceFormat"]
    target_formats = [t if isinstance(t, str) else t for t in cfg["targetFormats"]]
    controller = ConversionController(ConversionConfig(sync_mode=mode))
    catalog_clients = build_catalog_clients(cfg)
    failures = 0
    for dataset in cfg["datasets"]:
        source = build_source(spark, source_format, dataset)
        targets = {
            TableFormat(fmt): build_target(spark, fmt, dataset)
            for fmt in target_formats
            if fmt != source_format  # skip same-as-source (ConversionController.java:178-186)
        }
        # when EVERY target can express row-level deletes (Iceberg v2
        # position deletes), let the source skip purged-shadow rewrites
        # and pass delete sets through as position files.
        # GUARANTEE (tested: test_mixed_targets_degrade_to_shadows_with_
        # row_parity): if ANY target lacks supports_row_deletes (Hudi COW
        # cannot express position tombstones), exposure stays OFF for the
        # whole run and every target converges via purged-shadow rewrites
        # with identical row content — correctness is never format-gated,
        # only the metadata-only fast path is
        if (
            hasattr(source, "expose_row_deletes")
            and targets
            and all(getattr(t, "supports_row_deletes", False) for t in targets.values())
        ):
            source.expose_row_deletes = True

        # row-lineage preservation is an EXPLICIT opt-in (not auto): it
        # has hard prerequisites on both sides (Row Tracking / Iceberg
        # v3) and the refusals should name them, not be silently skipped
        if str(dataset.get("exposeRowLineage", "")).lower() == "true":
            if not hasattr(source, "expose_row_lineage"):
                raise ValueError(
                    f"exposeRowLineage is not supported by {type(source).__name__}"
                )
            source.expose_row_lineage = True

        # catalog registrations for this dataset (convert AND register in
        # one run — RunCatalogSync.java:129-185)
        target_catalogs: dict[TableFormat, list[TargetCatalogConfig]] = {}
        readback_sources: dict[TableFormat, Any] = {}
        for cat_id, db, tbl, fmt_name in parse_catalog_idents(
            dataset.get("targetCatalogTableIdentifiers")
        ):
            from incubator_xtable_spark.catalog.sync_client import CatalogTableIdentifier

            if cat_id not in catalog_clients:
                raise ValueError(f"unknown catalogId {cat_id!r} (not in targetCatalogs)")
            fmt = TableFormat(fmt_name)
            if fmt not in targets:
                raise ValueError(
                    f"catalog identifier targets format {fmt_name} but it is "
                    f"not in targetFormats"
                )
            target_catalogs.setdefault(fmt, []).append(
                TargetCatalogConfig(
                    catalog_id=cat_id,
                    client=catalog_clients[cat_id],
                    ident=CatalogTableIdentifier(database=db, table=tbl),
                )
            )
            if fmt not in readback_sources:
                # the reference re-reads the CONVERTED table's state before
                # registering (ConversionController.java:233-244); the
                # converted table lives where the TARGET wrote it
                readback_sources[fmt] = build_source(
                    spark,
                    fmt.value,
                    {
                        "tableBasePath": dataset.get("tableDataPath", dataset["tableBasePath"]),
                        "tableName": dataset.get("tableName"),
                    },
                )

        if target_catalogs:
            results = controller.sync_table_across_catalogs(
                source, targets, target_catalogs, readback_sources
            )
        else:
            results = controller.sync(source, targets)
        # opt-in post-sync statistics: theta-sketch NDV blobs on the
        # converted Iceberg table (icebergCollectStats: true)
        if (
            str(dataset.get("icebergCollectStats", "")).lower() == "true"
            and TableFormat.ICEBERG in results
            and results[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
        ):
            from incubator_xtable_spark.targets.iceberg_statistics import (
                has_statistics_for_current_snapshot,
                write_ndv_statistics,
            )

            ice_base = dataset.get("tableDataPath", dataset["tableBasePath"])
            # a no-op sync (continuous mode, unchanged table) must not
            # re-scan every column: skip when the head already has stats
            if not has_statistics_for_current_snapshot(ice_base):
                write_ndv_statistics(spark, ice_base)
        for fmt, res in results.items():
            line = {
                "table": dataset.get("tableName", dataset["tableBasePath"]),
                "target": fmt.value,
                "mode": res.mode.value,
                "status": res.status.value,
                "lastInstantSynced": res.last_instant_synced,
                "seconds": round(res.sync_duration_sec, 3),
            }
            if res.error:
                line["error"] = res.error.error_message
                failures += 1
            if res.catalog_sync_statuses:
                line["catalogs"] = [
                    {
                        "catalogId": c.catalog_id,
                        "status": c.status.value,
                        **({"error": c.error.error_message} if c.error else {}),
                    }
                    for c in res.catalog_sync_statuses
                ]
                failures += sum(
                    1 for c in res.catalog_sync_statuses if c.status != SyncStatusCode.SUCCESS
                )
            print(json.dumps(line))
    return failures


def main(argv: list[str] | None = None) -> int:
    import sys as _sys

    raw = list(_sys.argv[1:]) if argv is None else list(argv)
    if raw[:1] == ["maintenance"]:
        return run_maintenance(raw[1:])
    if raw[:1] == ["serve"]:
        return run_serve(raw[1:])
    argv = raw
    ap = argparse.ArgumentParser(description="xtable-pyspark sync runner")
    ap.add_argument("--config", "-c", required=True)
    ap.add_argument("--mode", choices=["FULL", "INCREMENTAL"], default="INCREMENTAL")
    ap.add_argument("--continuous", "-m", action="store_true")
    ap.add_argument("--interval", "-t", type=float, default=5.0)
    ap.add_argument("--cycles", type=int, default=None, help="continuous-mode cycle cap")
    args = ap.parse_args(argv)

    spark = get_spark("xtable_run_sync")
    spark.sparkContext.setLogLevel("ERROR")
    mode = SyncMode(args.mode)

    if not args.continuous:
        return 1 if run_once(spark, load_config(args.config), mode) else 0

    cycle = 0
    failures = 0
    while args.cycles is None or cycle < args.cycles:
        failures = run_once(spark, load_config(args.config), mode)  # reload each tick
        cycle += 1
        if args.cycles is not None and cycle >= args.cycles:
            break
        time.sleep(args.interval)
    return 1 if failures else 0




def run_serve(argv: list[str] | None = None) -> int:
    """`python -m incubator_xtable_spark.run_sync serve --port 8080` —
    the reference's REST service (`POST /v1/conversion/table`) over a
    real stdlib-http socket (see http_service.py)."""
    ap = argparse.ArgumentParser(description="xtable-pyspark REST service")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    args = ap.parse_args(argv)
    from incubator_xtable_spark.http_service import serve

    spark = get_spark("xtable_service")
    spark.sparkContext.setLogLevel("ERROR")
    serve(spark, host=args.host, port=args.port)
    return 0


def run_maintenance(argv: list[str] | None = None) -> int:
    """Maintenance CLI (`python -m incubator_xtable_spark.run_sync
    maintenance ...` via main's subcommand detection): one action per
    invocation, each mapping to a sync/retention function. Prints one
    JSON result line.

    Actions: optimize (delta) / rewrite (iceberg) / cluster (hudi) /
    compact (paimon) — the four-format compaction quartet — plus
    restore (delta, --to-version), savepoint / unsavepoint (hudi,
    --instant), vacuum (delta, destructive only with --no-dry-run),
    archive (hudi, --keep-last), expire (iceberg, --keep-last)."""
    ap = argparse.ArgumentParser(description="xtable-pyspark maintenance runner")
    ap.add_argument(
        "action",
        choices=[
            "optimize",
            "rewrite",
            "cluster",
            "compact",
            "restore",
            "savepoint",
            "unsavepoint",
            "vacuum",
            "archive",
            "expire",
            "clean",
            "orphans",
            "rollback",
            "clone",
        ],
    )
    ap.add_argument("--path", required=True, help="table base path")
    ap.add_argument(
        "--to-path",
        default=None,
        help="clone: destination path for the metadata-only shallow clone",
    )
    ap.add_argument("--table-name", default=None)
    ap.add_argument("--target-file-bytes", type=int, default=128 * 1024 * 1024)
    ap.add_argument("--min-file-bytes", type=int, default=None)
    ap.add_argument("--to-version", type=int, default=None, help="restore target")
    ap.add_argument("--instant", default=None, help="savepoint instant")
    ap.add_argument("--keep-last", type=int, default=10)
    ap.add_argument("--no-dry-run", action="store_true", help="vacuum really deletes")
    ap.add_argument(
        "--zorder-by",
        default=None,
        help="optimize: comma-separated columns for OPTIMIZE ZORDER BY",
    )
    ap.add_argument(
        "--older-than-ms",
        type=int,
        default=3 * 24 * 3600 * 1000,
        help="orphans: only unreferenced files at least this old are "
        "deleted (default 3 days, real Iceberg's in-flight-commit guard; "
        "0 disables the age filter — tests only)",
    )
    ap.add_argument(
        "--rest-uri",
        default=None,
        help="expire: Iceberg REST catalog URI — when given (with "
        "--rest-ident), the expiration rides the catalog's atomic "
        "remove-snapshots commit instead of a local metadata rewrite",
    )
    ap.add_argument(
        "--rest-ident",
        default=None,
        help="expire: catalog identifier as namespace.table (the last "
        "dot splits namespace from table name)",
    )
    args = ap.parse_args(argv)

    from incubator_xtable_spark.sync import retention as R

    spark = None
    if args.action in ("optimize", "rewrite", "cluster", "compact", "restore", "vacuum", "orphans", "clone"):
        spark = get_spark("xtable_maintenance")
        spark.sparkContext.setLogLevel("ERROR")
    size_kw = {
        "target_file_bytes": args.target_file_bytes,
        "min_file_bytes": args.min_file_bytes,
    }
    if args.action == "optimize":
        zcols = [c for c in (args.zorder_by or "").split(",") if c] or None
        out = R.delta_optimize(spark, args.path, zorder_by=zcols, **size_kw)
    elif args.action == "rewrite":
        out = R.iceberg_rewrite_data_files(
            spark, args.path, table_name=args.table_name, **size_kw
        )
    elif args.action == "cluster":
        out = R.hudi_cluster_small_files(
            spark, args.path, table_name=args.table_name, **size_kw
        )
    elif args.action == "compact":
        out = R.paimon_compact_small_files(
            spark, args.path, table_name=args.table_name, **size_kw
        )
    elif args.action == "restore":
        if args.to_version is None:
            raise SystemExit("restore requires --to-version")
        out = R.delta_restore(spark, args.path, args.to_version)
    elif args.action == "savepoint":
        if args.instant is None:
            raise SystemExit("savepoint requires --instant")
        out = {"savepoint": R.hudi_create_savepoint(args.path, args.instant)}
    elif args.action == "unsavepoint":
        if args.instant is None:
            raise SystemExit("unsavepoint requires --instant")
        R.hudi_delete_savepoint(args.path, args.instant)
        out = {"removed_savepoint": args.instant}
    elif args.action == "vacuum":
        out = {"orphans": R.delta_vacuum(spark, args.path, dry_run=not args.no_dry_run)}
    elif args.action == "archive":
        out = {"archived": R.hudi_archive_timeline(args.path, keep_last=args.keep_last)}
    elif args.action == "clean":
        out = R.hudi_clean(spark, args.path, keep_last=args.keep_last)
    elif args.action == "orphans":
        out = R.iceberg_remove_orphan_files(
            spark,
            args.path,
            dry_run=not args.no_dry_run,
            older_than_ms=args.older_than_ms if args.older_than_ms > 0 else None,
        )
    elif args.action == "rollback":
        out = R.hudi_rollback_pending(args.path, before=args.instant)
    elif args.action == "clone":
        if args.to_path is None:
            raise SystemExit("clone requires --to-path")
        out = R.delta_shallow_clone(
            spark, args.path, args.to_path, version=args.to_version
        )
    else:  # expire
        rest_client = rest_ident = None
        if args.rest_uri and args.rest_ident:
            from incubator_xtable_spark.catalog.rest_client import make_rest_client
            from incubator_xtable_spark.catalog.sync_client import (
                CatalogTableIdentifier,
            )

            db, _, tbl = args.rest_ident.rpartition(".")
            if not db or not tbl:
                raise SystemExit("--rest-ident must be namespace.table")
            rest_client = make_rest_client({"uri": args.rest_uri})
            rest_ident = CatalogTableIdentifier(database=db, table=tbl)
        out = {
            "expired": R.iceberg_expire_snapshots(
                args.path,
                keep_last=args.keep_last,
                rest_client=rest_client,
                rest_ident=rest_ident,
            )
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
