"""HFile metadata-index WRITES (VERDICT r7 #1): the Hudi target's opt-in
``metadata_index_format="hfile"`` mode writes REAL-layout metadata-table
partitions — full-state HFile base files with HoodieMetadataRecord avro
payloads plus the metadata table's own timeline — and the engine's own
REAL-Hudi read tiers (r7 col_stats, r8 files listing) must read them back
byte-equal to the footer/timeline tiers.

Ref hudi/HudiConversionTarget.java:267-470 (write-client metadata-table
maintenance); layout verified against an actual Hudi-written metadata
table (tests/test_hfile.py::test_reads_actual_hudi_written_hfile).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.hudi_metadata import (
    HFILE_COL_STATS_SUBDIR,
    col_stats_dir,
    files_dir,
    hfile_col_stats_available,
    hfile_files_available,
    hfile_files_listing,
    stats_with_hfile_tier,
)
from incubator_xtable_spark.sources.hudi_source import (
    HudiConversionSource,
    live_files_rows,
    read_properties,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

from .conftest import SF_SMOKE
from .test_hfile import _footer_stats_map, _stats_by_path
from .model_tables import model_rows


def _sync(spark, d, target=None):
    target = target or HudiConversionTarget(
        spark, d, table_name="nation", metadata_index_format="hfile"
    )
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"), {TableFormat.HUDI: target}
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, res[TableFormat.HUDI].error
    return target


@pytest.fixture()
def table_dir(spark, tmp_path):
    d = str(tmp_path / "hfile_writes")
    (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def _fs_view(d):
    return {os.path.join(d, r["path"]): int(r["size"]) for r in live_files_rows(d)}


def test_written_index_selected_and_byte_equal_to_footers(spark, table_dir):
    """VERDICT r7 #1 done-criterion: the engine's REAL-Hudi HFile read
    path serves the written index byte-equal to the footer tier."""
    _sync(spark, table_dir)
    # hfile mode writes NO LITE parquet deltas; the HFile tier is selected
    assert not glob.glob(os.path.join(col_stats_dir(table_dir), "*.parquet"))
    assert not glob.glob(os.path.join(files_dir(table_dir), "*.parquet"))
    assert hfile_col_stats_available(table_dir)
    assert hfile_files_available(table_dir)

    paths, schema, footers = _footer_stats_map(spark, table_dir)
    served = stats_with_hfile_tier(table_dir, paths, schema)
    assert _stats_by_path(served) == _stats_by_path(footers)


def test_files_hfile_listing_equals_timeline_replay(spark, table_dir):
    """r8 files tier: the full-state `files` HFile lists exactly the
    timeline-replay live files (paths + sizes), through appends AND a
    replacing full resync."""
    target = _sync(spark, table_dir)
    base = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    for i in range(2):
        base.withColumn("n_nationkey", F.col("n_nationkey") + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(table_dir)
        _sync(spark, table_dir, target)

    idx = {(part, name): size for part, name, size in hfile_files_listing(table_dir)}
    fs = _fs_view(table_dir)
    assert {
        os.path.join(table_dir, p, f) if p else os.path.join(table_dir, f): sz
        for (p, f), sz in idx.items()
    } == fs
    assert len(fs) >= 5


def test_snapshot_listing_comes_from_hfile_index(spark, table_dir):
    """End-to-end through HudiConversionSource: the snapshot's inventory
    (paths, sizes, stats) is identical with and without the HFile index —
    i.e. the accelerated listing tier changes the plan, never the data."""
    _sync(spark, table_dir)
    src = HudiConversionSource(spark, table_dir)
    with_idx = {
        (r["physical_path"], r["size_bytes"])
        for r in model_rows(src.get_current_snapshot(with_stats=False).files)
    }
    assert hfile_files_available(table_dir)

    # drop the index: listing must fall back to timeline replay, same rows
    import shutil

    shutil.rmtree(files_dir(table_dir), ignore_errors=True)
    shutil.rmtree(os.path.join(table_dir, HFILE_COL_STATS_SUBDIR), ignore_errors=True)
    assert not hfile_files_available(table_dir)
    without_idx = {
        (r["physical_path"], r["size_bytes"])
        for r in model_rows(
            HudiConversionSource(spark, table_dir).get_current_snapshot(with_stats=False).files
        )
    }
    assert with_idx == without_idx


def test_incremental_merge_drops_replaced_files(spark, table_dir):
    """Full resync after a shrink: replaced files leave BOTH partitions of
    the full-state index (no tombstones needed — the new base is the whole
    state)."""
    target = _sync(spark, table_dir)
    before = set(_fs_view(table_dir))
    # shrinking overwrite: 3 files -> 1 (fresh source read; overwriting a
    # path from a lazy self-read races the scan)
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(table_dir)
    _sync(spark, table_dir, target)
    after = _fs_view(table_dir)
    assert len(after) == 1 and not (set(after) & before)

    listed = {name for _, name, _ in hfile_files_listing(table_dir)}
    assert listed == {os.path.basename(p) for p in after}

    # col_stats: the MERGED slice view (base + delta logs, r9) must
    # reference live files only — replaced files' records are tombstoned
    # by the commit's isDeleted log records and drop in the payload merge
    from incubator_xtable_spark.model.hudi_metadata_records import (
        merged_metadata_slice_records,
    )
    from incubator_xtable_spark.sources.hudi_metadata import (
        _hfile_partition_state,
    )

    live = {os.path.basename(p) for p in after}
    slices, logs_ok = _hfile_partition_state(
        os.path.join(table_dir, HFILE_COL_STATS_SUBDIR)
    )
    assert logs_ok and slices
    n_recs = 0
    for base, logs in slices:
        for _key, rec in merged_metadata_slice_records(base, logs):
            cs = rec.get("ColumnStatsMetadata")
            if cs is None:
                continue
            n_recs += 1
            assert cs["fileName"] in live
    assert n_recs > 0


def test_metadata_table_timeline_written(spark, table_dir):
    """The metadata table's own .hoodie: MOR/HFILE hoodie.properties plus
    one deltacommit lifecycle per data commit, naming the written base
    files (the layout real Hudi opens)."""
    import json

    target = _sync(spark, table_dir)
    base = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    base.withColumn("n_nationkey", F.col("n_nationkey") + 500).coalesce(1).write.mode(
        "append"
    ).parquet(table_dir)
    _sync(spark, table_dir, target)

    md = os.path.join(table_dir, ".hoodie", "metadata", ".hoodie")
    props = {}
    with open(os.path.join(md, "hoodie.properties"), encoding="utf-8") as fh:
        for line in fh:
            if "=" in line and not line.startswith("#"):
                k, _, v = line.strip().partition("=")
                props[k] = v
    assert props["hoodie.table.type"] == "MERGE_ON_READ"
    assert props["hoodie.table.base.file.format"] == "HFILE"
    assert props["hoodie.table.name"] == "nation_metadata"
    assert props["hoodie.compaction.payload.class"].endswith("HoodieMetadataPayload")

    commits = sorted(glob.glob(os.path.join(md, "*.deltacommit")))
    assert len(commits) == 2
    for c in commits:
        instant = os.path.basename(c)[: -len(".deltacommit")]
        assert os.path.exists(os.path.join(md, f"{instant}.deltacommit.requested"))
        assert os.path.exists(os.path.join(md, f"{instant}.deltacommit.inflight"))
        with open(c, encoding="utf-8") as fh:
            meta = json.load(fh)
        stats = meta["partitionToWriteStats"]
        assert set(stats) == {"column_stats", "files"}
        for lst in stats.values():
            for st in lst:
                # every commit's named base file still exists on disk (the
                # engine never deletes superseded metadata bases)
                assert os.path.exists(
                    os.path.join(table_dir, ".hoodie", "metadata", st["path"])
                )


def test_conformance_green_then_red_on_corruption(spark, table_dir):
    """Conformance accepts the REAL HFile layout and red-flags a flipped
    byte (CRC chain) in a base file."""
    from incubator_xtable_spark.model.conformance import check_hudi_conformance

    _sync(spark, table_dir)
    report = check_hudi_conformance(table_dir)
    assert report.passed, report.issues

    victim = glob.glob(
        os.path.join(table_dir, HFILE_COL_STATS_SUBDIR, "*.hfile")
    )[0]
    with open(victim, "r+b") as fh:
        fh.seek(60)
        b = fh.read(1)
        fh.seek(60)
        fh.write(bytes([b[0] ^ 0xFF]))
    report = check_hudi_conformance(table_dir)
    assert not report.passed
    assert any(i.code == "HUDI_META_HFILE_CORRUPT" for i in report.issues)


def test_typed_columns_roundtrip_through_written_index(spark, tmp_path):
    """Date/timestamp(LTZ+NTZ)/decimal/float/bool stats survive the
    write->HFile->read loop byte-equal to footers (the wrapper encodings
    are the writer's own this time, not fixture-built)."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import types as T

    d = str(tmp_path / "typed_writes")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("tsz", T.TimestampType()),
            T.StructField("m", T.DecimalType(10, 2)),
            T.StructField("f", T.FloatType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )
    rows = [
        (1, datetime.date(2021, 3, 4), datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
         datetime.datetime(2021, 3, 4, 5, 6, 7, 123456, tzinfo=datetime.timezone.utc),
         Decimal("12.34"), 1.5, True),
        (2, datetime.date(2022, 12, 31), datetime.datetime(2022, 12, 31, 23, 59, 59, 999999),
         datetime.datetime(2022, 12, 31, 23, 59, 59, 999999, tzinfo=datetime.timezone.utc),
         Decimal("-0.07"), -2.25, False),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(d)
    source = ParquetConversionSource(spark, d, name="typed")
    target = HudiConversionTarget(
        spark, d, table_name="typed", metadata_index_format="hfile"
    )
    r = ConversionController().sync(source, {TableFormat.HUDI: target})
    assert r[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, r[TableFormat.HUDI].error

    assert hfile_col_stats_available(d)
    paths, dschema, footers = _footer_stats_map(spark, d)
    served = stats_with_hfile_tier(d, paths, dschema)
    assert _stats_by_path(served) == _stats_by_path(footers)


def test_hashed_point_lookups_resolve_byte_equal_to_footers(spark, table_dir):
    """VERDICT r8 #1 done-criterion: the written index resolves stats via
    real Hudi's HASHED point-lookup keys (getColumnStatsIndexKey), and the
    served payloads re-encode byte-equal to the footer tier."""
    from incubator_xtable_spark.model.stat_codec import decode_stat, encode_stat
    from incubator_xtable_spark.sources.hudi_metadata import (
        coerce_hudi_wrapper_value as _coerce,
        lookup_col_stats_record,
    )

    _sync(spark, table_dir)
    paths, schema, footers = _footer_stats_map(spark, table_dir)
    dtypes = {f.name: f.dataType for f in schema.fields}

    n_probed = 0
    for path, count, stats in footers:
        rel = os.path.relpath(path, table_dir)
        part, fname = os.path.dirname(rel), os.path.basename(rel)
        for col, st in (stats or {}).items():
            rec = lookup_col_stats_record(table_dir, part, fname, col)
            assert rec is not None, (fname, col)
            cs = rec["ColumnStatsMetadata"]
            assert cs["fileName"] == fname and cs["columnName"] == col
            assert cs["valueCount"] == count
            assert cs["nullCount"] == st["null_count"]
            dtype = dtypes[col]
            got_min = encode_stat(_coerce((cs["minValue"] or {}).get("value"), dtype), dtype)
            got_max = encode_stat(_coerce((cs["maxValue"] or {}).get("value"), dtype), dtype)
            assert got_min == st["min_json"], (fname, col)
            assert got_max == st["max_json"], (fname, col)
            # sanity: the json decodes to the same python value too
            assert _coerce((cs["minValue"] or {}).get("value"), dtype) == decode_stat(
                st["min_json"], dtype
            )
            n_probed += 1
    assert n_probed >= 8
    # absent keys answer None, not a wrong record
    assert lookup_col_stats_record(table_dir, "", "nope.parquet", "n_name") is None
    assert lookup_col_stats_record(table_dir, "", fname, "no_such_col") is None


def test_incremental_log_appends_and_compaction(tmp_path):
    """r9 incremental model: commit 1 writes the base; later commits append
    ONE delta log each (O(commit delta) records, not O(table)); after
    compact_every logs the slice compacts into a new full-state base;
    removals tombstone through logs and drop from the merged view."""
    import glob as _glob

    from pyspark.sql import types as T

    from incubator_xtable_spark.model.hudi_metadata_records import (
        merged_metadata_slice_records,
    )
    from incubator_xtable_spark.model.stat_codec import encode_stat
    from incubator_xtable_spark.sources.hudi_metadata import _hfile_partition_state
    from incubator_xtable_spark.targets.hudi_metadata_index import (
        write_hfile_index_commit,
    )

    d = str(tmp_path / "tbl")
    os.makedirs(d)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )

    def add(i):
        return {
            "rel_path": f"f{i}.parquet",
            "size_bytes": 100 + i,
            "record_count": 10 + i,
            "column_stats": {
                "id": {
                    "min_json": encode_stat(i, T.LongType()),
                    "max_json": encode_stat(i + 5, T.LongType()),
                    "null_count": 0,
                },
                "name": {
                    "min_json": encode_stat(f"a{i}", T.StringType()),
                    "max_json": encode_stat(f"z{i}", T.StringType()),
                    "null_count": 1,
                },
            },
        }

    def instant(i):
        return f"2024010100000{i:04d}"

    cs_dir = os.path.join(d, ".hoodie", "metadata", "column_stats")

    def slice_shape():
        slices, ok = _hfile_partition_state(cs_dir)
        assert ok and len(slices) == 1
        base, logs = slices[0]
        return os.path.basename(base)[: -len(".hfile")].split("_")[2], len(logs)

    def merged_files():
        slices, _ = _hfile_partition_state(cs_dir)
        base, logs = slices[0]
        return {
            rec["ColumnStatsMetadata"]["fileName"]
            for _k, rec in merged_metadata_slice_records(base, logs)
            if rec.get("ColumnStatsMetadata")
        }

    kw = dict(schema=schema, table_name="t", compact_every=3)
    write_hfile_index_commit(d, instant(1), [add(1)], [], **kw)
    assert slice_shape() == (instant(1), 0)  # fresh base, no logs

    write_hfile_index_commit(d, instant(2), [add(2)], [], **kw)
    assert slice_shape() == (instant(1), 1)  # one delta log
    write_hfile_index_commit(d, instant(3), [add(3)], ["f1.parquet"], **kw)
    assert slice_shape() == (instant(1), 2)
    # tombstones removed f1 through the log, before any compaction
    assert merged_files() == {"f2.parquet", "f3.parquet"}

    # 3rd log reaches compact_every -> new full-state base at this instant
    write_hfile_index_commit(d, instant(4), [add(4)], [], **kw)
    assert slice_shape() == (instant(4), 0)
    assert merged_files() == {"f2.parquet", "f3.parquet", "f4.parquet"}

    # next commit logs against the NEW base
    write_hfile_index_commit(d, instant(5), [add(5)], [], **kw)
    assert slice_shape() == (instant(4), 1)
    assert merged_files() == {"f2.parquet", "f3.parquet", "f4.parquet", "f5.parquet"}

    # files partition merged the same mutations
    from incubator_xtable_spark.sources.hudi_metadata import files_dir

    slices, ok = _hfile_partition_state(files_dir(d))
    assert ok and len(slices) == 1
    base, logs = slices[0]
    listed = {}
    for _k, rec in merged_metadata_slice_records(base, logs):
        if rec.get("type") == 2:
            for fn, info in (rec.get("filesystemMetadata") or {}).items():
                if not info.get("isDeleted"):
                    listed[fn] = info["size"]
    assert listed == {f"f{i}.parquet": 100 + i for i in (2, 3, 4, 5)}

    # per-commit write cost is O(delta): the delta log carries this
    # commit's records only (2 cols x 1 file), far smaller than the
    # compacted base carrying the cumulative state
    log_files = [
        p for p in _glob.glob(os.path.join(cs_dir, ".*")) if ".log." in p
    ]
    base_files = _glob.glob(os.path.join(cs_dir, "*.hfile"))
    assert log_files and base_files
    assert min(os.path.getsize(b) for b in base_files) > 0
    # every log is a fraction of a full base (same-ballpark record sizes,
    # 1-file delta vs multi-file state)
    newest_base = max(base_files, key=lambda p: os.path.basename(p).split("_")[2])
    for lf in log_files:
        assert os.path.getsize(lf) < os.path.getsize(newest_base) * 2


def test_hashed_and_readable_key_modes_serve_identical_stats(spark, table_dir):
    """key_mode is a key-layout choice only: the engine's bulk read tier
    serves identical stats from hashed-key and readable-key indexes."""
    import shutil

    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    _sync(spark, table_dir)
    paths, schema, footers = _footer_stats_map(spark, table_dir)
    hashed = _stats_by_path(stats_with_hfile_tier(table_dir, paths, schema))

    shutil.rmtree(os.path.join(table_dir, ".hoodie"))
    _sync(
        spark,
        table_dir,
        HudiConversionTarget(
            spark,
            table_dir,
            table_name="nation",
            metadata_index_format="hfile",
            metadata_index_key_mode="readable",
        ),
    )
    readable = _stats_by_path(stats_with_hfile_tier(table_dir, paths, schema))
    assert hashed == readable == _stats_by_path(footers)


def test_same_commit_rewrite_replaces_stats_not_combines(tmp_path):
    """A file removed AND re-added at the same rel path in ONE commit (an
    in-place rewrite) must serve the NEW stats afterwards — under the
    r9 type-3 stat COMBINE, a bare fresh record would merge with the old
    one (summed counts, unioned min/max), so the writer tombstones the
    key through the log's DELETE block, which replays BEFORE the data
    block (delete-then-fresh = replace)."""
    from pyspark.sql import types as T

    from incubator_xtable_spark.sources.hudi_metadata import (
        lookup_col_stats_record,
    )
    from incubator_xtable_spark.targets.hudi_metadata_index import (
        write_hfile_index_commit,
    )

    base = str(tmp_path / "tab")
    os.makedirs(base, exist_ok=True)
    schema = T.StructType([T.StructField("id", T.LongType())])
    add_v1 = {
        "rel_path": "a.parquet",
        "size_bytes": 100,
        "record_count": 100,
        "column_stats": {"id": {"min_json": "0", "max_json": "9", "null_count": 1}},
    }
    write_hfile_index_commit(base, "00000000000001000", [add_v1], [], schema, "t")
    add_v2 = {
        "rel_path": "a.parquet",
        "size_bytes": 50,
        "record_count": 50,
        "column_stats": {"id": {"min_json": "100", "max_json": "199", "null_count": 0}},
    }
    # in-place rewrite: the SAME path appears in removed AND adds
    write_hfile_index_commit(
        base, "00000000000002000", [add_v2], ["a.parquet"], schema, "t"
    )
    rec = lookup_col_stats_record(base, "", "a.parquet", "id")
    cs = rec["ColumnStatsMetadata"]
    assert cs["valueCount"] == 50, "combined (150) would mean the tombstone was lost"
    assert cs["nullCount"] == 0
    assert cs["minValue"] == {"value": 100} and cs["maxValue"] == {"value": 199}
