"""maxBytesPerTrigger micro-batch pacing for the four readStream CDC
sources (VERDICT r6 #5 / r7 #3): a multi-commit backlog splits into
availableNow runs by the SUM of the candidate commits' planned data-file
bytes, at commit granularity; an oversized single commit still admits
(soft cap, Spark's own file-source contract). Byte sizing comes from
commit METADATA only — Delta add.size, Hudi write-stat fileSizeInBytes,
Iceberg snapshot summary added-files-size (written by the engine's
target since r8), Paimon manifest-entry _FILE_SIZE.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.streaming.pacing import paced_head, read_pacing_options
from incubator_xtable_spark.sync.controller import ConversionController


# -- unit: the shared budget walk -------------------------------------------


def test_paced_head_unbounded():
    assert paced_head([1, 2, 3], lambda c: 10, None, None) == 3
    assert paced_head([], lambda c: 10, 5, 100) is None


def test_paced_head_commit_budget():
    assert paced_head([1, 2, 3], lambda c: 0, 2, None) == 2
    assert paced_head([1, 2, 3], lambda c: 0, 9, None) == 3


def test_paced_head_byte_budget():
    sizes = {1: 10, 2: 20, 3: 30}
    assert paced_head([1, 2, 3], sizes.get, None, 30) == 2
    assert paced_head([1, 2, 3], sizes.get, None, 60) == 3
    assert paced_head([1, 2, 3], sizes.get, None, 29) == 1
    # the first commit ALWAYS admits, even over budget
    assert paced_head([1, 2, 3], sizes.get, None, 5) == 1


def test_paced_head_both_budgets_combine():
    sizes = {1: 10, 2: 10, 3: 10}
    assert paced_head([1, 2, 3], sizes.get, 3, 20) == 2  # bytes bind first
    assert paced_head([1, 2, 3], sizes.get, 1, 100) == 1  # commits bind first


def test_read_pacing_options_both_spellings():
    assert read_pacing_options({"maxcommitspertrigger": "2"}) == (2, None)
    assert read_pacing_options({"maxBytesPerTrigger": "1024"}) == (None, 1024)
    assert read_pacing_options({}) == (None, None)


# -- per-source availableNow drains -----------------------------------------


def _runs(spark, fmt, base, cp, out, budget):
    """One availableNow run with the byte budget; -> distinct ids seen."""
    q = (
        spark.readStream.format(fmt)
        .option("path", base)
        .option("maxBytesPerTrigger", str(budget))
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return sorted(r["id"] for r in spark.read.parquet(out).select("id").distinct().collect())


def test_delta_cdf_bytes_split_backlog(spark, tmp_path):
    """3-commit backlog: a budget fitting the first two commits drains
    them in run 1 and the third in run 2; a 1-byte budget drains exactly
    one commit per run (oversized-commit progress)."""
    from incubator_xtable_spark.sources.delta_source import commit_data_bytes
    from incubator_xtable_spark.streaming.cdf_datasource import DeltaCDFDataSource
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

    try:
        spark.dataSource.register(DeltaCDFDataSource)
    except Exception:
        pass
    base = str(tmp_path / "t")
    spark.range(0, 6).select(F.col("id").cast("long")).coalesce(1).write.parquet(base)
    src = ParquetConversionSource(spark, base, name="t")
    tgt = DeltaConversionTarget(spark, base)
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.DELTA: tgt})[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    for lo, hi in ((6, 9), (9, 12)):
        spark.range(lo, hi).select(F.col("id").cast("long")).coalesce(1).write.mode(
            "append"
        ).parquet(base)
        ctrl.sync(src, {TableFormat.DELTA: tgt})

    budget = commit_data_bytes(base, 0) + commit_data_bytes(base, 1)
    assert budget > 0
    cp, out = str(tmp_path / "cp"), str(tmp_path / "out")
    assert _runs(spark, "delta_cdf", base, cp, out, budget) == list(range(9))
    assert _runs(spark, "delta_cdf", base, cp, out, budget) == list(range(12))

    cp2, out2 = str(tmp_path / "cp2"), str(tmp_path / "out2")
    assert _runs(spark, "delta_cdf", base, cp2, out2, 1) == list(range(6))
    assert _runs(spark, "delta_cdf", base, cp2, out2, 1) == list(range(9))
    assert _runs(spark, "delta_cdf", base, cp2, out2, 1) == list(range(12))


def test_hudi_cdc_bytes_split_backlog(spark, tmp_path):
    from incubator_xtable_spark.sources.hudi_source import instant_data_bytes
    from incubator_xtable_spark.streaming.hudi_cdc_datasource import HudiCDCDataSource
    from incubator_xtable_spark.targets.hudi_target import (
        HudiConversionTarget,
        list_completed_instants,
    )

    try:
        spark.dataSource.register(HudiCDCDataSource)
    except Exception:
        pass
    base = str(tmp_path / "t")
    spark.range(0, 6).select(F.col("id").cast("long")).coalesce(1).write.parquet(base)
    src = ParquetConversionSource(spark, base, name="t")
    tgt = HudiConversionTarget(spark, base, table_name="t")
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.HUDI: tgt})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    for lo, hi in ((6, 9), (9, 12)):
        spark.range(lo, hi).select(F.col("id").cast("long")).coalesce(1).write.mode(
            "append"
        ).parquet(base)
        ctrl.sync(src, {TableFormat.HUDI: tgt})

    instants = list_completed_instants(base)
    assert len(instants) == 3
    budget = sum(instant_data_bytes(base, i, a) for i, a in instants[:2])
    assert budget > 0
    cp, out = str(tmp_path / "cp"), str(tmp_path / "out")
    assert _runs(spark, "hudi_cdc", base, cp, out, budget) == list(range(9))
    assert _runs(spark, "hudi_cdc", base, cp, out, budget) == list(range(12))


def test_iceberg_cdc_bytes_split_backlog(spark, tmp_path):
    from incubator_xtable_spark.sources.iceberg_source import snapshot_data_bytes
    from incubator_xtable_spark.streaming.iceberg_cdc_datasource import IcebergCDCDataSource
    from incubator_xtable_spark.targets.iceberg_target import (
        IcebergConversionTarget,
        read_table_metadata,
    )

    try:
        spark.dataSource.register(IcebergCDCDataSource)
    except Exception:
        pass
    base = str(tmp_path / "t")
    spark.range(0, 6).select(F.col("id").cast("long")).coalesce(1).write.parquet(base)
    src = ParquetConversionSource(spark, base, name="t")
    tgt = IcebergConversionTarget(spark, base, table_name="t")
    ctrl = ConversionController()
    assert ctrl.sync(src, {TableFormat.ICEBERG: tgt})[TableFormat.ICEBERG].status == SyncStatusCode.SUCCESS
    for lo, hi in ((6, 9), (9, 12)):
        spark.range(lo, hi).select(F.col("id").cast("long")).coalesce(1).write.mode(
            "append"
        ).parquet(base)
        ctrl.sync(src, {TableFormat.ICEBERG: tgt})

    meta = read_table_metadata(base)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    chain, cur = [], meta["current-snapshot-id"]
    while cur is not None:
        chain.append(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    chain = list(reversed(chain))
    assert len(chain) == 3
    # r8: the target writes real summary size stats the pacing reads
    assert int(by_id[chain[0]]["summary"]["added-files-size"]) > 0
    budget = sum(snapshot_data_bytes(by_id[s]) for s in chain[:2])
    cp, out = str(tmp_path / "cp"), str(tmp_path / "out")
    assert _runs(spark, "iceberg_cdc", base, cp, out, budget) == list(range(9))
    assert _runs(spark, "iceberg_cdc", base, cp, out, budget) == list(range(12))


def test_paimon_changelog_bytes_split_backlog(spark, tmp_path):
    from incubator_xtable_spark.sources.paimon_source import snapshot_data_bytes
    from incubator_xtable_spark.streaming.paimon_changelog_datasource import (
        PaimonChangelogDataSource,
    )

    from .paimon_testtable import PaimonTestTable

    try:
        spark.dataSource.register(PaimonChangelogDataSource)
    except Exception:
        pass
    fields = [("id", "BIGINT"), ("name", "STRING")]
    t = PaimonTestTable(spark, str(tmp_path / "t"), fields).create()
    for lo, hi in ((0, 6), (6, 9), (9, 12)):
        t.append([{"id": i, "name": f"n-{i}"} for i in range(lo, hi)])

    budget = snapshot_data_bytes(t.base, 1) + snapshot_data_bytes(t.base, 2)
    assert budget > 0
    cp, out = str(tmp_path / "cp"), str(tmp_path / "out")
    assert _runs(spark, "paimon_changelog", t.base, cp, out, budget) == list(range(9))
    assert _runs(spark, "paimon_changelog", t.base, cp, out, budget) == list(range(12))
