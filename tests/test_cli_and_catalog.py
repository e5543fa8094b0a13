"""CLI (RunSync parity) + catalog sync tests."""

from __future__ import annotations

import json
import subprocess
import sys

from pyspark.sql import functions as F

from incubator_xtable_spark.catalog.sync_client import (
    CatalogTableIdentifier,
    SparkCatalogSyncClient,
    sync_table_to_catalog,
)
from incubator_xtable_spark.run_sync import _parse_mini_yaml, parse_partition_spec
from incubator_xtable_spark.model.core import PartitionTransformType

from .conftest import SF_SMOKE


def test_mini_yaml_parses_reference_shape():
    cfg = _parse_mini_yaml(
        """
sourceFormat: PARQUET
targetFormats:
  - DELTA
datasets:
  - tableBasePath: /data/t1
    tableName: t1
  - tableBasePath: /data/t2
    tableName: t2
    partitionSpec: ts:DAY:yyyy-MM-dd
"""
    )
    assert cfg["sourceFormat"] == "PARQUET"
    assert cfg["targetFormats"] == ["DELTA"]
    assert cfg["datasets"][1]["partitionSpec"] == "ts:DAY:yyyy-MM-dd"


def test_partition_spec_parser():
    fields = parse_partition_spec("level:VALUE,ts:DAY:yyyy-MM-dd")
    assert fields[0].source_field == "level"
    assert fields[0].transform == PartitionTransformType.VALUE
    assert fields[1].transform == PartitionTransformType.DAY
    assert fields[1].date_format == "yyyy-MM-dd"


def test_run_sync_cli_end_to_end(spark, tmp_path):
    table_dir = tmp_path / "cli_table"
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(str(table_dir))
    )
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        f"""
sourceFormat: PARQUET
targetFormats:
  - DELTA
datasets:
  - tableBasePath: {table_dir}
    tableName: nation_cli
"""
    )
    proc = subprocess.run(
        [sys.executable, "-m", "incubator_xtable_spark.run_sync", "--config", str(cfg)],
        capture_output=True,
        text=True,
        timeout=240,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines and lines[0]["status"] == "SUCCESS" and lines[0]["target"] == "DELTA"

    # the produced delta log is readable back
    from incubator_xtable_spark.sources.delta_source import read_delta_as_df

    assert read_delta_as_df(spark, str(table_dir)).count() == 25


def test_catalog_sync_parquet_and_delta(spark, tmp_path):
    table_dir = str(tmp_path / "cat_table")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(table_dir)

    client = SparkCatalogSyncClient(spark)
    ident = CatalogTableIdentifier(database="default", table="region_cat")
    sync_table_to_catalog(client, ident, table_dir, "PARQUET")
    assert client.get_table(ident) is not None
    assert spark.table("default.region_cat").count() == 5
    # re-sync path (refresh)
    sync_table_to_catalog(client, ident, table_dir, "PARQUET")
    assert spark.table("default.region_cat").count() == 5
    client.drop_table(ident)
    assert client.get_table(ident) is None

    # delta-format registration via log-replay view
    from incubator_xtable_spark.model.core import TableFormat
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

    ConversionController().sync(
        ParquetConversionSource(spark, table_dir),
        {TableFormat.DELTA: DeltaConversionTarget(spark, table_dir)},
    )
    ident2 = CatalogTableIdentifier(database="default", table="region_delta")
    sync_table_to_catalog(client, ident2, table_dir, "DELTA")
    assert spark.table("region_delta").count() == 5


def test_mini_yaml_rejects_deep_nesting():
    import pytest

    with pytest.raises(ValueError, match="unsupported nesting"):
        _parse_mini_yaml(
            """
datasets:
  - tableBasePath: /data/t
    nested:
      deeper: x
"""
        )


def test_sync_table_across_catalogs_inprocess(spark, tmp_path):
    """Format sync + catalog registration in ONE controller call, with
    per-catalog statuses and failure isolation
    (ConversionController.syncTableAcrossCatalogs analog)."""
    from incubator_xtable_spark.catalog.external_clients import HMSCatalogSyncClient
    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import (
        ConversionController,
        TargetCatalogConfig,
    )
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

    from .test_catalog_external import FakeThriftTransport

    d = str(tmp_path / "acr")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(d)

    good = HMSCatalogSyncClient(FakeThriftTransport())

    class BrokenClient:
        def has_database(self, ident):
            raise RuntimeError("catalog down")

    source = ParquetConversionSource(spark, d, name="region")
    targets = {TableFormat.DELTA: DeltaConversionTarget(spark, d)}
    cats = {
        TableFormat.DELTA: [
            TargetCatalogConfig("hms-1", good, CatalogTableIdentifier("db1", "region_delta")),
            TargetCatalogConfig("broken", BrokenClient(), CatalogTableIdentifier("db1", "x")),
        ]
    }
    readback = {TableFormat.DELTA: DeltaConversionSource(spark, d, name="region")}
    results = ConversionController().sync_table_across_catalogs(
        source, targets, cats, readback
    )
    res = results[TableFormat.DELTA]
    assert res.status == SyncStatusCode.SUCCESS
    by_id = {c.catalog_id: c for c in res.catalog_sync_statuses}
    assert by_id["hms-1"].status == SyncStatusCode.SUCCESS
    assert by_id["broken"].status == SyncStatusCode.ERROR
    assert "catalog down" in by_id["broken"].error.error_message
    # the good catalog actually holds the table
    assert good.get_table(CatalogTableIdentifier("db1", "region_delta")) is not None


def test_run_catalog_sync_cli_end_to_end(spark, tmp_path):
    """RunCatalogSync analog: ONE subprocess command converts a
    partitioned parquet table to Delta AND Iceberg and registers
    tables + partitions into file-backed fake HMS and Glue catalogs."""
    table_dir = tmp_path / "cat_e2e"
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .withColumn("region", F.concat(F.lit("r"), F.col("n_regionkey")))
        .write.partitionBy("region")
        .mode("overwrite")
        .parquet(str(table_dir))
    )
    hms_state = tmp_path / "hms.json"
    glue_state = tmp_path / "glue.json"
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        f"""
sourceFormat: PARQUET
targetFormats:
  - DELTA
  - ICEBERG
targetCatalogs:
  - catalogId: hms-1
    catalogSyncClientImpl: tests.fake_catalog:make_hms_client
    catalogProperties: path={hms_state}
  - catalogId: glue-1
    catalogSyncClientImpl: tests.fake_catalog:make_glue_client
    catalogProperties: path={glue_state}
datasets:
  - tableBasePath: {table_dir}
    tableName: nation_cat
    partitionSpec: region:VALUE
    targetCatalogTableIdentifiers: hms-1:analytics.nation_delta:DELTA,glue-1:analytics.nation_iceberg:ICEBERG
"""
    )
    proc = subprocess.run(
        [sys.executable, "-m", "incubator_xtable_spark.run_sync", "--config", str(cfg)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    by_target = {l["target"]: l for l in lines}
    assert by_target["DELTA"]["status"] == "SUCCESS"
    assert by_target["ICEBERG"]["status"] == "SUCCESS"
    assert by_target["DELTA"]["catalogs"] == [{"catalogId": "hms-1", "status": "SUCCESS"}]
    assert by_target["ICEBERG"]["catalogs"] == [{"catalogId": "glue-1", "status": "SUCCESS"}]

    # fake HMS holds the Delta table + its 5 region partitions
    hms = json.loads(hms_state.read_text())
    (delta_tbl,) = [t for k, t in hms["tables"].items() if "nation_delta" in k]
    assert delta_tbl["dbName"] == "analytics"
    all_values = sorted(
        p["values"][0] for parts in hms["partitions"].values() for p in parts.values()
    )
    assert all_values == ["r0", "r1", "r2", "r3", "r4"]
    assert all(
        p["sd"]["location"].startswith(str(table_dir))
        for parts in hms["partitions"].values()
        for p in parts.values()
    )

    # fake Glue holds the Iceberg table (metadata_location property) + partitions
    glue = json.loads(glue_state.read_text())
    (ice_tbl,) = [t for k, t in glue["tables"].items() if "nation_iceberg" in k]
    assert "metadata_location" in ice_tbl.get("Parameters", {})
    glue_values = sorted(
        p["Values"][0] for parts in glue["partitions"].values() for p in parts.values()
    )
    assert glue_values == ["r0", "r1", "r2", "r3", "r4"]

    # second run: incremental no-op converts nothing new but refreshes
    # catalogs without error (idempotent convert-and-register)
    proc2 = subprocess.run(
        [sys.executable, "-m", "incubator_xtable_spark.run_sync", "--config", str(cfg)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    lines2 = [json.loads(l) for l in proc2.stdout.splitlines() if l.startswith("{")]
    assert all(
        c["status"] == "SUCCESS" for l in lines2 for c in l.get("catalogs", [])
    )
    hms2 = json.loads(hms_state.read_text())
    assert len([p for parts in hms2["partitions"].values() for p in parts.values()]) == 5


def test_build_target_change_feed_flags(spark, tmp_path):
    """CLI flag routing: deltaChangeFeed / hudiChangeFeed (r6) construct
    CDC-persisting targets."""
    from incubator_xtable_spark.run_sync import build_target

    h = build_target(spark, "HUDI", {"tableBasePath": str(tmp_path), "hudiChangeFeed": "true"})
    assert h.change_feed is True
    h2 = build_target(spark, "HUDI", {"tableBasePath": str(tmp_path)})
    assert h2.change_feed is False
    d = build_target(spark, "DELTA", {"tableBasePath": str(tmp_path), "deltaChangeFeed": "true"})
    assert d.change_feed is True


def test_build_target_hudi_index_flags(spark, tmp_path):
    """YAML dataset keys reach the Hudi target's metadata-index options."""
    from incubator_xtable_spark.run_sync import build_target

    t = build_target(
        spark,
        "HUDI",
        {
            "tableBasePath": str(tmp_path / "t"),
            "tableName": "t",
            "hudiMetadataIndexFormat": "hfile",
            "hudiMetadataIndexCompactEvery": "5",
            "hudiPartitionStats": "true",
        },
    )
    assert t.metadata_index_format == "hfile"
    assert t.metadata_index_compact_every == 5
    assert t.partition_stats is True
    # defaults stay the LITE tier with everything opt-in off
    d = build_target(spark, "HUDI", {"tableBasePath": str(tmp_path / "d")})
    assert d.metadata_index_format == "parquet"
    assert d.partition_stats is False
