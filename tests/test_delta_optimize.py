"""delta_optimize (sync/retention.py): small-file bin-packing with the
spec's rewrite shape — remove+add pairs at dataChange=false, DV
application on compaction, CDF silence, time travel to pre-optimize
versions, ICT monotonicity, and the honest refusal matrix."""

from __future__ import annotations

import json
import os

import pytest

from incubator_xtable_spark.model.conformance import check_delta_conformance
from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import (
    list_log_versions,
    live_adds,
    read_delta_as_df,
    read_delta_cdf,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.sync.retention import delta_optimize
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from .conftest import SF_SMOKE


def _make_table(spark, tmp_path, n_files=4, **target_kw) -> str:
    d = str(tmp_path / "opt_table")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").repartition(n_files).write.parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d, **target_kw)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    return d


def _keys(df):
    return sorted(r["n_nationkey"] for r in df.select("n_nationkey").collect())


def test_optimize_compacts_and_preserves_rows(spark, tmp_path):
    d = _make_table(spark, tmp_path, n_files=4)
    v0 = max(list_log_versions(d))
    before = _keys(read_delta_as_df(spark, d))
    n_before = len(live_adds(d))
    assert n_before == 4

    out = delta_optimize(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert out["version"] == v0 + 1
    assert len(out["removed"]) == 4 and len(out["added"]) == 1

    assert len(live_adds(d)) == 1
    assert _keys(read_delta_as_df(spark, d)) == before
    # time travel: the pre-optimize version still reads the old layout
    assert len(live_adds(d, v0)) == 4
    assert _keys(read_delta_as_df(spark, d, version=v0)) == before

    # the commit is the spec rewrite shape: everything dataChange=false
    with open(os.path.join(d, "_delta_log", f"{out['version']:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh]
    assert all(
        a.get("commitInfo")
        or a.get("remove", {}).get("dataChange") is False
        or a.get("add", {}).get("dataChange") is False
        for a in actions
    )
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and json.loads(adds[0]["stats"])["numRecords"] == 25

    # CDF: a pure layout change emits no row changes
    assert read_delta_cdf(spark, d, out["version"]).count() == 0

    report = check_delta_conformance(spark, d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_optimize_applies_deletion_vectors(spark, tmp_path):
    from .test_row_delete_conversion import _base_table, _dv_commit

    base, s1, _ = _base_table(tmp_path)  # two 10-row files
    _dv_commit(base, 1, s1, [2, 3, 7])
    # the shared fixture writes a bare 3/7 protocol; declare the feature
    # lists so the conformance sweep at the end has a spec-true protocol
    log0 = os.path.join(base, "_delta_log", f"{0:020d}.json")
    lines = []
    for line in open(log0):
        a = json.loads(line)
        if "protocol" in a:
            a["protocol"]["readerFeatures"] = ["deletionVectors"]
            a["protocol"]["writerFeatures"] = ["deletionVectors"]
        if "metaData" in a and "format" not in a["metaData"]:
            a["metaData"]["format"] = {"provider": "parquet", "options": {}}
        lines.append(json.dumps(a) + "\n")
    open(log0, "w").writelines(lines)
    expected = sorted(i for i in range(20) if i not in (2, 3, 7))
    out = delta_optimize(spark, base, target_file_bytes=64 * 1024 * 1024)
    assert out["version"] is not None
    live = list(live_adds(base).values())
    # compaction applied + dropped the DV
    assert all(
        r["deletionVector"] is None or r["deletionVector"]["storageType"] is None for r in live
    )
    got = sorted(r["id"] for r in read_delta_as_df(spark, base).select("id").collect())
    assert got == expected
    report = check_delta_conformance(spark, base)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_optimize_noop_when_files_are_big_enough(spark, tmp_path):
    d = _make_table(spark, tmp_path, n_files=2)
    out = delta_optimize(spark, d, target_file_bytes=64, min_file_bytes=1)
    assert out == {"removed": [], "added": [], "version": None}


def test_optimize_refusals(spark, tmp_path):
    d = _make_table(spark, tmp_path, n_files=2, row_tracking=True)
    with pytest.raises(NotImplementedError, match="Row Tracking"):
        delta_optimize(spark, d)

    # a column-mapped table (hand-written minimal log with mode=name)
    from .test_row_delete_conversion import SCHEMA_STRING, _add, _log_write, _write_data_file

    d2 = str(tmp_path / "cm_table")
    os.makedirs(d2)
    s = _write_data_file(os.path.join(d2, "part-0001.parquet"), list(range(5)))
    _log_write(
        d2,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "cm",
                    "schemaString": SCHEMA_STRING,
                    "format": {"provider": "parquet", "options": {}},
                    "partitionColumns": [],
                    "configuration": {"delta.columnMapping.mode": "name"},
                    "createdTime": 1,
                }
            },
            _add(d2, "part-0001.parquet", s),
        ],
    )
    with pytest.raises(NotImplementedError, match="columnMapping"):
        delta_optimize(spark, d2)


def test_optimize_ict_monotonic(spark, tmp_path):
    d = _make_table(spark, tmp_path, n_files=3, in_commit_timestamps=True)
    v0 = max(list_log_versions(d))
    from incubator_xtable_spark.sources.delta_source import read_commit_ict

    prev_ict = read_commit_ict(os.path.join(d, "_delta_log", f"{v0:020d}.json"))
    assert prev_ict is not None
    out = delta_optimize(spark, d, target_file_bytes=64 * 1024 * 1024)
    got_ict = read_commit_ict(
        os.path.join(d, "_delta_log", f"{out['version']:020d}.json")
    )
    assert got_ict is not None and got_ict > prev_ict
    report = check_delta_conformance(spark, d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_optimize_partitioned_table_bins_per_partition(spark, tmp_path):
    """Partitioned tables bin WITHIN each partition and the new adds
    carry the partition's own partitionValues."""
    from pyspark.sql import functions as F

    from incubator_xtable_spark.model.core import InternalPartitionField

    d = str(tmp_path / "opt_part")
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .withColumn("region", F.concat(F.lit("r"), F.col("n_regionkey")))
        .repartition(2)  # 2 small files PER partition dir
        .write.partitionBy("region")
        .parquet(d)
    )
    res = ConversionController().sync(
        ParquetConversionSource(
            spark, d, name="nation",
            partition_fields=[InternalPartitionField(source_field="region")],
        ),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    before = sorted(
        (r["n_nationkey"], r["region"])
        for r in read_delta_as_df(spark, d).select("n_nationkey", "region").collect()
    )
    n_parts = len({pv for (_, pv) in before})
    files_before = list(live_adds(d).values())
    assert len(files_before) > n_parts  # multiple files per partition

    out = delta_optimize(spark, d, target_file_bytes=64 * 1024 * 1024)
    assert out["version"] is not None
    live = list(live_adds(d).values())
    # one compacted file per partition, each carrying its partitionValues
    assert len(live) == n_parts
    pvs = sorted(dict(r["partitionValues"])["region"] for r in live)
    assert pvs == sorted({pv for (_, pv) in before})
    after = sorted(
        (r["n_nationkey"], r["region"])
        for r in read_delta_as_df(spark, d).select("n_nationkey", "region").collect()
    )
    assert after == before
    report = check_delta_conformance(spark, d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]


def test_optimize_zorder_clusters_and_prunes(spark, tmp_path):
    """OPTIMIZE ZORDER BY (r12): every live file rewrites through the
    Morton clustering writer, so post-optimize each file covers a
    narrow range of the z-ordered column and a box predicate prunes
    most files — versus the pre-optimize layout where shuffled values
    make every file span the whole domain. Rows, CDF silence and time
    travel ride the shared commit path; zOrderBy lands in
    commitInfo.operationParameters like delta-spark."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    d = str(tmp_path / "z_table")
    n = 20000
    # x is a bijective scramble of 0..n-1: round-robin repartition makes
    # every pre-optimize file span essentially the whole x domain
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id") * 2654435761, F.lit(n)).cast("long").alias("x"),
    )
    df.repartition(4).write.parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="ztab"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS

    def _x_ranges(paths):
        out = []
        for p in paths:
            md = pq.read_metadata(p)
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["x"]
            mns, mxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mns.append(st.min)
                mxs.append(st.max)
            out.append((min(mns), max(mxs)))
        return out

    live = list(live_adds(d).values())
    pre_paths = [os.path.join(d, r["path"]) for r in live]
    pre = _x_ranges(pre_paths)
    assert all(mx - mn > 0.9 * n for mn, mx in pre), pre  # shuffled layout

    total = sum(r["size"] for r in live)
    before = sorted(r["k"] for r in read_delta_as_df(spark, d).select("k").collect())
    v0 = max(list_log_versions(d))
    out = delta_optimize(spark, d, target_file_bytes=max(1, total // 4), zorder_by=["x"])
    assert out["version"] == v0 + 1 and len(out["added"]) >= 3

    post_paths = [
        os.path.join(d, r["path"]) for r in list(live_adds(d).values())
    ]
    post = _x_ranges(post_paths)
    lo, hi = 0, n // 10
    pre_hit = sum(1 for mn, mx in pre if not (mx < lo or mn > hi))
    post_hit = sum(1 for mn, mx in post if not (mx < lo or mn > hi))
    assert pre_hit == len(pre)  # no pruning possible before
    assert post_hit <= max(1, len(post) // 2), (post_hit, post)

    # rows preserved; commit records the clustering; conformance green
    after = sorted(r["k"] for r in read_delta_as_df(spark, d).select("k").collect())
    assert after == before
    with open(os.path.join(d, "_delta_log", f"{out['version']:020d}.json")) as fh:
        commit = json.loads(fh.readline())["commitInfo"]
    assert json.loads(commit["operationParameters"]["zOrderBy"]) == ["x"]
    report = check_delta_conformance(spark, d)
    assert report.passed, [(i.code, i.detail) for i in report.issues]
    # refusal: unknown zorder column
    with pytest.raises(ValueError, match="zorder_by columns"):
        delta_optimize(spark, d, zorder_by=["nope"])
