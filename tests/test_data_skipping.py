"""Plan-time data skipping for Delta and Iceberg reads (`prune=`) — the
consumer side of each format's own statistics channel: Delta add.stats
minValues/maxValues + partitionValues, Iceberg manifest lower/upper
bounds (the Hudi col-stats-index twin lives in test_hudi_col_stats.py).
Keep rule pinned: drop ONLY on provable range exclusion; missing stats
always keep; pruning composes with the real row filter."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget


def _three_file_table(spark, tmp_path, fmt: TableFormat):
    d = str(tmp_path / f"skip_{fmt.value.lower()}")
    os.makedirs(d, exist_ok=True)
    for i, (lo, hi) in enumerate([(0, 99), (100, 199), (200, 299)]):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(lo, hi + 1), pa.int64()),
                    "label": [f"row-{v}" for v in range(lo, hi + 1)],
                }
            ),
            os.path.join(d, f"part-{i:04d}.parquet"),
        )
    target = (
        DeltaConversionTarget(spark, d)
        if fmt == TableFormat.DELTA
        else IcebergConversionTarget(spark, d, table_name="skip")
    )
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="skip"), {fmt: target}
    )
    assert res[fmt].status == SyncStatusCode.SUCCESS
    return d


def test_delta_prune_skips_disjoint_files(spark, tmp_path):
    d = _three_file_table(spark, tmp_path, TableFormat.DELTA)
    pruned = read_delta_as_df(spark, d, prune={"id": (120, 150)})
    assert len(pruned.inputFiles()) == 1
    assert len(read_delta_as_df(spark, d).inputFiles()) == 3
    got = sorted(
        r["id"] for r in pruned.filter(F.col("id").between(120, 150)).collect()
    )
    assert got == list(range(120, 151))
    # open ranges + spanning range + unknown column
    assert len(read_delta_as_df(spark, d, prune={"id": (200, None)}).inputFiles()) == 1
    assert len(read_delta_as_df(spark, d, prune={"id": (None, None)}).inputFiles()) == 3
    assert len(read_delta_as_df(spark, d, prune={"nope": (1, 2)}).inputFiles()) == 3
    empty = read_delta_as_df(spark, d, prune={"id": (1000, None)})
    assert empty.count() == 0 and "id" in empty.columns


def test_delta_prune_on_partition_values(spark, tmp_path):
    d = str(tmp_path / "skip_delta_part")
    (
        spark.range(300)
        .withColumn("bucket", (F.col("id") / 100).cast("int"))
        .write.partitionBy("bucket")
        .parquet(d)
    )
    from incubator_xtable_spark.model.core import InternalPartitionField

    res = ConversionController().sync(
        ParquetConversionSource(
            spark, d, name="p", partition_fields=[InternalPartitionField("bucket")]
        ),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    full = read_delta_as_df(spark, d)
    pruned = read_delta_as_df(spark, d, prune={"bucket": (1, 1)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert sorted(r["id"] for r in pruned.collect()) == list(range(100, 200))


def test_iceberg_prune_skips_disjoint_files(spark, tmp_path):
    d = _three_file_table(spark, tmp_path, TableFormat.ICEBERG)
    pruned = read_iceberg_as_df(spark, d, prune={"id": (120, 150)})
    assert len(pruned.inputFiles()) == 1
    assert len(read_iceberg_as_df(spark, d).inputFiles()) == 3
    got = sorted(
        r["id"] for r in pruned.filter(F.col("id").between(120, 150)).collect()
    )
    assert got == list(range(120, 151))
    assert len(read_iceberg_as_df(spark, d, prune={"id": (None, 99)}).inputFiles()) == 1
    assert len(read_iceberg_as_df(spark, d, prune={"nope": (1, 2)}).inputFiles()) == 3
    empty = read_iceberg_as_df(spark, d, prune={"id": (1000, None)})
    assert empty.count() == 0 and "id" in empty.columns


def test_iceberg_prune_string_bounds(spark, tmp_path):
    d = _three_file_table(spark, tmp_path, TableFormat.ICEBERG)
    # string column bounds: "row-0".."row-99" vs "row-100".."row-199" etc
    # sort LEXICOGRAPHICALLY; ask for a range only file 0 can hold
    pruned = read_iceberg_as_df(spark, d, prune={"label": ("row-95", "row-99")})
    assert len(pruned.inputFiles()) == 1
    rows = pruned.filter(F.col("label") >= "row-95").collect()
    assert {r["label"] for r in rows} == {f"row-{v}" for v in (95, 96, 97, 98, 99)}


def test_paimon_prune_skips_disjoint_files(spark, tmp_path):
    from incubator_xtable_spark.sources.paimon_source import read_paimon_as_df
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

    d = str(tmp_path / "skip_paimon")
    os.makedirs(d, exist_ok=True)
    for i, (lo, hi) in enumerate([(0, 99), (100, 199), (200, 299)]):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(lo, hi + 1), pa.int64()),
                    "label": [f"row-{v}" for v in range(lo, hi + 1)],
                }
            ),
            os.path.join(d, f"part-{i:04d}.parquet"),
        )
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="skip"),
        {TableFormat.PAIMON: PaimonConversionTarget(spark, d, table_name="skip")},
    )
    assert res[TableFormat.PAIMON].status == SyncStatusCode.SUCCESS
    pruned = read_paimon_as_df(spark, d, prune={"id": (120, 150)})
    assert len(pruned.inputFiles()) == 1
    assert len(read_paimon_as_df(spark, d).inputFiles()) == 3
    got = sorted(
        r["id"] for r in pruned.filter(F.col("id").between(120, 150)).collect()
    )
    assert got == list(range(120, 151))
    assert len(read_paimon_as_df(spark, d, prune={"nope": (1, 2)}).inputFiles()) == 3
    empty = read_paimon_as_df(spark, d, prune={"id": (1000, None)})
    assert empty.count() == 0 and "id" in empty.columns


def test_hudi_prune_replays_index_as_of_instant(spark, tmp_path):
    """prune= + as_of_instant replays the column_stats index AS OF the
    requested instant (r9 advisor finding): hashed record keys are
    version-agnostic per rel path, so HEAD state mixes a later in-place
    rewrite's bounds into the as-of decision; the replay serves each
    path's contemporaneous stats. (Row-level caveat, inherent to
    metadata-only conversion: an EXTERNAL file rewritten in place has
    its old bytes gone, so as-of ROW reads of that path serve new bytes
    regardless of pruning — the index replay is about never pruning on
    wrong-era bounds.)"""
    from incubator_xtable_spark.sources.hudi_metadata import prune_files_by_col_stats
    from incubator_xtable_spark.sources.hudi_source import (
        HudiConversionSource,
        list_completed_instants,
        live_files_rows,
        read_hudi_as_df,
    )
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    d = str(tmp_path / "asof_prune")
    os.makedirs(d, exist_ok=True)
    for i, (lo, hi) in enumerate([(0, 99), (100, 199)]):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(lo, hi + 1), pa.int64()),
                    "label": [f"row-{v}" for v in range(lo, hi + 1)],
                }
            ),
            os.path.join(d, f"part-{i:04d}.parquet"),
        )
    source = ParquetConversionSource(spark, d, name="asof")
    target = HudiConversionTarget(spark, d, table_name="asof", metadata_index_format="hfile")
    ctrl = ConversionController()
    assert ctrl.sync(source, {TableFormat.HUDI: target})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    t1 = list_completed_instants(d)[-1][0]

    # commit 2 — REWRITE part-0001 in place: ids jump to 1000..1099
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(1000, 1100), pa.int64()),
                "label": [f"row-{v}" for v in range(1000, 1100)],
            }
        ),
        os.path.join(d, "part-0001.parquet"),
    )
    assert ctrl.sync(source, {TableFormat.HUDI: target})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS

    schema = HudiConversionSource(spark, d).get_current_table().read_schema
    rels = [r["path"] for r in live_files_rows(d, t1) if r["path"]]
    assert sorted(rels) == ["part-0000.parquet", "part-0001.parquet"]

    # the DIVERGENCE the replay exists for: at t1 part-0001 was 100..199,
    # so a (1050, inf) predicate excludes it AS OF t1 — while HEAD state
    # (which mixes the rewrite's 1000..1099) keeps it
    kept_head = prune_files_by_col_stats(d, rels, schema, {"id": (1050, None)})
    kept_asof = prune_files_by_col_stats(
        d, rels, schema, {"id": (1050, None)}, as_of_instant=t1
    )
    assert "part-0001.parquet" in kept_head
    assert kept_asof == set()
    # contemporaneous bounds serve the as-of decision on every range
    assert prune_files_by_col_stats(
        d, rels, schema, {"id": (120, 150)}, as_of_instant=t1
    ) == {"part-0001.parquet"}
    assert prune_files_by_col_stats(
        d, rels, schema, {"id": (0, 50)}, as_of_instant=t1
    ) == {"part-0000.parquet"}

    # end-to-end: as_of + prune on an append-only history (no rewrite)
    # is exact and skips files
    d2 = str(tmp_path / "asof_prune_clean")
    os.makedirs(d2, exist_ok=True)
    for i, (lo, hi) in enumerate([(0, 99), (100, 199)]):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(lo, hi + 1), pa.int64()),
                    "label": [f"row-{v}" for v in range(lo, hi + 1)],
                }
            ),
            os.path.join(d2, f"part-{i:04d}.parquet"),
        )
    source2 = ParquetConversionSource(spark, d2, name="asof2")
    target2 = HudiConversionTarget(spark, d2, table_name="asof2", metadata_index_format="hfile")
    assert ctrl.sync(source2, {TableFormat.HUDI: target2})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    t1b = list_completed_instants(d2)[-1][0]
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(200, 300), pa.int64()),
                "label": [f"row-{v}" for v in range(200, 300)],
            }
        ),
        os.path.join(d2, "part-0002.parquet"),
    )
    assert ctrl.sync(source2, {TableFormat.HUDI: target2})[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    pruned = read_hudi_as_df(spark, d2, as_of_instant=t1b, prune={"id": (120, 150)}).filter(
        F.col("id").between(120, 150)
    )
    full = read_hudi_as_df(spark, d2, as_of_instant=t1b).filter(F.col("id").between(120, 150))
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.collect()
    ) == list(range(120, 151))
    assert len(pruned.inputFiles()) == 1 and len(full.inputFiles()) == 2


def test_zorder_layout_multiplies_file_pruning(spark, tmp_path):
    """Z-order write (functions/zorder.zorder_write) vs a single-column
    range layout, measured by what a min/max footer pruner sees:
    (a) rows survive the rewrite exactly; (b) on a 2-D box predicate the
    z-ordered layout prunes files on BOTH dimensions, while the linear
    layout prunes only on its sort dimension — the non-sorted dimension
    prunes ~nothing; (c) the z layout's second-dimension pruning is
    strictly better."""
    from pyspark.sql import functions as F

    from incubator_xtable_spark.functions.zorder import (
        file_pruning_fraction,
        zorder_write,
    )

    from .conftest import SF_CORRECTNESS

    orders = spark.read.parquet(f"{SF_CORRECTNESS}/orders.parquet")
    lo_k, hi_k = orders.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    lin = str(tmp_path / "linear")
    zed = str(tmp_path / "zordered")
    # linear: range-clustered by custkey only (the one-column best case)
    orders.repartitionByRange(16, "o_custkey").write.parquet(lin)
    zorder_write(orders, ["o_custkey", "o_orderdate"], zed, n_files=16)

    # rows survive exactly
    a = sorted(map(tuple, orders.collect()))
    b = sorted(map(tuple, spark.read.parquet(zed).collect()))
    assert a == b

    # 2-D box: middle ~10% of custkeys x one month of dates
    mid = (lo_k + hi_k) // 2
    span = max((hi_k - lo_k) // 20, 1)
    import datetime

    box_k = (mid - span, mid + span)
    box_d = (datetime.datetime(1995, 3, 1), datetime.datetime(1995, 3, 31))

    lin_df = spark.read.parquet(lin)
    z_df = spark.read.parquet(zed)
    # date-only pruning: the custkey-clustered linear layout can't prune
    # AT ALL on the dimension it isn't sorted by; z-order prunes on BOTH
    lin_date = file_pruning_fraction(lin_df, {"o_orderdate": box_d})
    z_date = file_pruning_fraction(z_df, {"o_orderdate": box_d})
    assert lin_date == 0.0, f"linear layout unexpectedly pruned {lin_date} on date"
    assert z_date > 0.25, f"z-order pruned only {z_date:.2f} of files on the date dim"
    # ...while staying useful on the custkey dimension too
    z_key = file_pruning_fraction(z_df, {"o_custkey": box_k})
    assert z_key > 0.25, f"z-order pruned only {z_key:.2f} of files on custkey"
    # THE z-order claim is worst-dimension pruning: linear's worst
    # dimension prunes nothing (date: 0.0), z-order's worst dimension
    # still prunes. (On the combined 2-D box a 1-D-optimal layout can
    # legitimately tie or edge out z at 16-file granularity — z trades
    # single-dim precision for multi-dim coverage — so the box gate is
    # a strong absolute floor, not a comparison.)
    assert min(z_date, z_key) > 0.25, (z_date, z_key)
    z_box = file_pruning_fraction(z_df, {"o_custkey": box_k, "o_orderdate": box_d})
    assert z_box >= 0.5, f"z-order 2-D pruning only {z_box:.2f}"
