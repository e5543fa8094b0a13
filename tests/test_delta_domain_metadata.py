"""Delta Domain Metadata (PROTOCOL.md "Domain Metadata", writer table
feature `domainMetadata`): per-domain configuration strings with
latest-wins reconciliation, removal tombstones, checkpoint carry
(including tombstones), protocol gating, and red-proven conformance.

Also pins the checkpoint protocol-features fix that landed with this
feature: checkpoint parquet protocol rows must retain reader/writer
feature lists (a reader bootstrapping from a checkpoint after log
retention would otherwise lose them).
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from incubator_xtable_spark.model.conformance import check_delta_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import (
    latest_actions,
    live_domain_metadata,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from .conftest import SF_SMOKE


@pytest.fixture()
def source_dir(spark, tmp_path):
    d = str(tmp_path / "dm_src")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(d)
    return d


def _append_rows(spark, source_dir: str, shift: int) -> None:
    (
        spark.read.parquet(f"{SF_SMOKE}/region.parquet")
        .withColumn("r_regionkey", F.col("r_regionkey") + shift)
        .coalesce(1)
        .write.mode("append")
        .parquet(source_dir)
    )


def _sync(spark, source_dir: str, domains=None, removed=(), **target_kw):
    source = ParquetConversionSource(spark, source_dir, name="region")
    target = DeltaConversionTarget(spark, source_dir, **target_kw)
    if domains or removed:
        orig_begin = target.begin_sync

        def begin(table):
            orig_begin(table)
            target.sync_domain_metadata(domains or {}, removed)

        target.begin_sync = begin
    res = ConversionController().sync(source, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS, (
        res[TableFormat.DELTA].error
    )


def test_domain_metadata_latest_wins_and_tombstones(spark, source_dir):
    _sync(
        spark,
        source_dir,
        domains={"engine.sampling": '{"rate":0.1}', "engine.tags": '{"team":"a"}'},
    )
    assert live_domain_metadata(source_dir) == {
        "engine.sampling": '{"rate":0.1}',
        "engine.tags": '{"team":"a"}',
    }

    # commit 2: overwrite one domain, remove the other
    _append_rows(spark, source_dir, 100)
    _sync(
        spark,
        source_dir,
        domains={"engine.sampling": '{"rate":0.5}'},
        removed={"engine.tags"},
    )
    assert live_domain_metadata(source_dir) == {
        "engine.sampling": '{"rate":0.5}'
    }
    # time travel sees the old domain state
    assert live_domain_metadata(source_dir, version=0) == {
        "engine.sampling": '{"rate":0.1}',
        "engine.tags": '{"team":"a"}',
    }
    # tombstone is retained in the reconciled rows (conflict detection)
    rows = {r["domain"]: r for r in latest_actions(source_dir, "domainMetadata", "domain").values()}
    assert rows["engine.tags"]["removed"] is True

    proto_lines = []
    with open(os.path.join(source_dir, "_delta_log", f"{0:020d}.json")) as fh:
        proto_lines = [json.loads(l) for l in fh if '"protocol"' in l]
    proto = proto_lines[0]["protocol"]
    assert proto["minWriterVersion"] == 7
    assert "domainMetadata" in proto["writerFeatures"]

    report = check_delta_conformance(spark, source_dir)
    assert not [i for i in report.issues if i.code.startswith("DELTA_DOMAIN")], (
        report.issues
    )


def test_domain_metadata_survives_checkpoint_with_features(spark, source_dir):
    _sync(spark, source_dir, domains={"engine.sampling": "s0"})
    _append_rows(spark, source_dir, 100)
    _sync(spark, source_dir, domains={"engine.window": "w1"}, removed={"engine.sampling"})

    from incubator_xtable_spark.sources.delta_source import write_checkpoint

    write_checkpoint(source_dir, 1)
    cp = os.path.join(source_dir, "_delta_log", f"{1:020d}.checkpoint.parquet")
    cpdf = spark.read.parquet(cp)
    dm = {
        r["domainMetadata"]["domain"]: r["domainMetadata"]
        for r in cpdf.filter(F.col("domainMetadata").isNotNull()).collect()
    }
    # latest per domain, INCLUDING the removal tombstone
    assert dm["engine.window"]["configuration"] == "w1"
    assert dm["engine.sampling"]["removed"] is True
    # protocol features survive checkpointing (the fix this test pins)
    proto = cpdf.filter(F.col("protocol.minWriterVersion").isNotNull()).collect()[0][
        "protocol"
    ]
    assert proto["minWriterVersion"] == 7
    assert "domainMetadata" in (proto["writerFeatures"] or [])

    # live view still resolves after the checkpoint (checkpoint-aware read)
    assert live_domain_metadata(source_dir) == {"engine.window": "w1"}


def test_domain_metadata_conformance_red(spark, source_dir):
    _sync(spark, source_dir, domains={"engine.sampling": "s0"})
    log = os.path.join(source_dir, "_delta_log")

    def codes():
        return {i.code for i in check_delta_conformance(spark, source_dir).issues}

    fp = os.path.join(log, f"{0:020d}.json")
    with open(fp, encoding="utf-8") as fh:
        original = fh.read()

    # (a) feature stripped from the protocol
    lines = [json.loads(l) for l in original.splitlines()]
    for l in lines:
        if "protocol" in l:
            l["protocol"]["writerFeatures"] = [
                f for f in l["protocol"]["writerFeatures"] if f != "domainMetadata"
            ]
    with open(fp, "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps(l) + "\n" for l in lines)
    assert "DELTA_DOMAIN_FEATURE_MISSING" in codes()
    with open(fp, "w", encoding="utf-8") as fh:
        fh.write(original)

    # (b) malformed action fields
    lines = [json.loads(l) for l in original.splitlines()]
    for l in lines:
        if "domainMetadata" in l:
            l["domainMetadata"].pop("removed")
    with open(fp, "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps(l) + "\n" for l in lines)
    assert "DELTA_DOMAIN_FIELDS" in codes()
    with open(fp, "w", encoding="utf-8") as fh:
        fh.write(original)

    assert not [c for c in codes() if c.startswith("DELTA_DOMAIN")]


def test_domain_set_and_remove_overlap_refused(spark, source_dir):
    target = DeltaConversionTarget(spark, source_dir)
    target._reset()
    with pytest.raises(ValueError, match="both set and removed"):
        target.sync_domain_metadata({"d": "x"}, removed={"d"})


def test_configuration_carries_forward_across_target_instances(spark, source_dir):
    """A metaData rebuild must not erase previously-set properties: a
    table created with change_feed=True keeps delta.enableChangeDataFeed
    even when a later sync's target instance was built without the flag
    (r10 self-review: rebuild-from-instance-flags silently demoted it)."""
    _sync(spark, source_dir, change_feed=True)
    _append_rows(spark, source_dir, 100)
    _sync(spark, source_dir)  # no change_feed flag on this instance
    target = DeltaConversionTarget(spark, source_dir)
    cfg = target.get_table_properties()
    assert cfg["delta.enableChangeDataFeed"] == "true"


def test_reserved_delta_domain_refused(spark, source_dir):
    target = DeltaConversionTarget(spark, source_dir)
    target._reset()
    with pytest.raises(ValueError, match="system-controlled"):
        target.sync_domain_metadata({"delta.rowTracking": "{}"})
    with pytest.raises(ValueError, match="system-controlled"):
        target.sync_domain_metadata({}, removed={"delta.clustering"})


def test_clustered_table_domain_and_feature(spark, source_dir):
    """Clustered table declaration (PROTOCOL.md "Clustered Table"): the
    delta.clustering domain carries the column set, the clustering +
    domainMetadata writer features are declared, unchanged sets do not
    re-emit, and changed sets do."""
    _sync(spark, source_dir, clustering_columns=["r_regionkey"])
    assert json.loads(
        live_domain_metadata(source_dir)["delta.clustering"]
    ) == {"clusteringColumns": [["r_regionkey"]]}
    with open(os.path.join(source_dir, "_delta_log", f"{0:020d}.json")) as fh:
        v0 = [json.loads(l) for l in fh if l.strip()]
    proto = next(l["protocol"] for l in v0 if "protocol" in l)
    assert "clustering" in proto["writerFeatures"]
    assert "domainMetadata" in proto["writerFeatures"]

    # unchanged set: the next commit re-emits nothing
    _append_rows(spark, source_dir, 100)
    _sync(spark, source_dir, clustering_columns=["r_regionkey"])
    with open(os.path.join(source_dir, "_delta_log", f"{1:020d}.json")) as fh:
        v1 = [json.loads(l) for l in fh if l.strip()]
    assert not any(
        "domainMetadata" in l and l["domainMetadata"]["domain"] == "delta.clustering"
        for l in v1
    )

    # changed set: re-emitted, latest wins
    _append_rows(spark, source_dir, 200)
    _sync(spark, source_dir, clustering_columns=["r_name", "r_regionkey"])
    assert json.loads(
        live_domain_metadata(source_dir)["delta.clustering"]
    ) == {"clusteringColumns": [["r_name"], ["r_regionkey"]]}

    report = check_delta_conformance(spark, source_dir)
    assert report.passed, report.issues

    # refusals: unknown column (new data so the sync actually commits)
    _append_rows(spark, source_dir, 300)
    t = DeltaConversionTarget(spark, source_dir, clustering_columns=["nope"])
    res = ConversionController().sync(
        ParquetConversionSource(spark, source_dir, name="region"),
        {TableFormat.DELTA: t},
    )
    assert res[TableFormat.DELTA].status != SyncStatusCode.SUCCESS
    assert "not in schema" in res[TableFormat.DELTA].error.error_message
