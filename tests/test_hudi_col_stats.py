"""Hudi metadata-table col-stats index differential tests.

Mirrors the reference's two-tier stats read (HudiFileStatsExtractor.java:
99-186): index-first when the table config advertises the COLUMN_STATS
metadata partition, parquet-footer fallback per uncovered file — and the
target-side index maintenance (HudiConversionTarget.java:267-470).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.hudi_metadata import (
    COLUMN_STATS_PARTITION,
    METADATA_PARTITIONS_KEY,
    col_stats_available,
    col_stats_dir,
    file_stats_from_index,
    read_col_stats_index,
    stats_with_index_tier,
)
from incubator_xtable_spark.sources.hudi_source import (
    HudiConversionSource,
    read_properties,
)
from incubator_xtable_spark.sources.parquet_source import (
    ParquetConversionSource,
    data_schema,
    footer_stats,
)
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.hudi_target import (
    HudiConversionTarget,
    list_completed_instants,
)

from .conftest import SF_SMOKE
from .model_tables import model_rows


def _build_hudi_table(spark, d: str) -> str:
    """Multi-commit COW table: full sync then an incremental append."""
    base = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    base.filter(F.col("n_nationkey") >= 5).repartition(3).write.mode("overwrite").parquet(d)

    source = ParquetConversionSource(spark, d, name="nation")
    target = HudiConversionTarget(spark, d, table_name="nation")
    controller = ConversionController()
    r1 = controller.sync(source, {TableFormat.HUDI: target})
    assert r1[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, r1[TableFormat.HUDI].error

    base.filter(F.col("n_nationkey") < 5).coalesce(1).write.mode("append").parquet(d)
    r2 = controller.sync(source, {TableFormat.HUDI: target})
    assert r2[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, r2[TableFormat.HUDI].error
    return d


@pytest.fixture()
def hudi_table(spark, tmp_path):
    """Per-test copy for tests that MUTATE the table (append commits,
    delete index deltas, rewrite properties)."""
    return _build_hudi_table(spark, str(tmp_path / "colstats_table"))


@pytest.fixture(scope="module")
def hudi_table_ro(spark, tmp_path_factory):
    """One shared build for READ-ONLY tests (r15: the per-test build is
    two syncs + two writes of fixed-latency Spark jobs — the dominant
    cost of this file; sharing it changes no test semantics)."""
    return _build_hudi_table(
        spark, str(tmp_path_factory.mktemp("colstats_ro") / "colstats_table")
    )


def _stats_by_path(df):
    out = {}
    for r in df.collect():
        cs = r["column_stats"] or {}
        out[r["physical_path"]] = (
            r["record_count"],
            {k: (v["min_json"], v["max_json"], v["null_count"]) for k, v in cs.items()},
        )
    return out


def test_index_written_and_advertised(spark, hudi_table_ro):
    props = read_properties(hudi_table_ro)
    assert COLUMN_STATS_PARTITION in props.get(METADATA_PARTITIONS_KEY, "").split(",")
    deltas = sorted(glob.glob(os.path.join(col_stats_dir(hudi_table_ro), "*.parquet")))
    instants = [i for i, _ in list_completed_instants(hudi_table_ro)]
    # one index delta per commit, named by the commit instant
    assert [os.path.splitext(os.path.basename(p))[0] for p in deltas] == instants
    assert col_stats_available(hudi_table_ro)


def test_index_stats_equal_footer_stats(spark, hudi_table_ro):
    """The differential the verdict asked for: stats served from the index
    byte-equal a footer recompute on the same live files."""
    src = HudiConversionSource(spark, hudi_table_ro)
    snap = src.get_current_snapshot(with_stats=True)
    listing = spark.createDataFrame(
        snap.files.select(["physical_path", "size_bytes", "last_modified_ms"])
    )

    via_index = file_stats_from_index(spark, hudi_table_ro).join(
        listing.select("physical_path"), "physical_path"
    )
    via_footers = footer_stats(spark, listing, data_schema(snap.table))

    idx_map, footer_map = _stats_by_path(via_index), _stats_by_path(via_footers)
    assert set(idx_map) == set(footer_map)
    assert idx_map == footer_map

    # and the snapshot path (which routes through the index tier) agrees
    snap_map = _stats_by_path(
        spark.createDataFrame(snap.files.select(["physical_path", "record_count", "column_stats"]))
    )
    assert snap_map == footer_map


def test_replacecommit_tombstones_old_files(spark, hudi_table):
    """A replace sync tombstones the replaced files out of the merged
    index view (MOR latest-wins + is_deleted semantics)."""
    before_files = {r["file_name"] for r in read_col_stats_index(spark, hudi_table).collect()}

    # rewrite the dataset => snapshot-as-diff produces adds + replacements
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").repartition(2).write.mode(
        "overwrite"
    ).parquet(hudi_table)
    source = ParquetConversionSource(spark, hudi_table, name="nation")
    target = HudiConversionTarget(spark, hudi_table, table_name="nation")
    res = ConversionController().sync(source, {TableFormat.HUDI: target})
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, res[TableFormat.HUDI].error

    merged = read_col_stats_index(spark, hudi_table)
    live_files = {r["file_name"] for r in merged.collect()}
    src = HudiConversionSource(spark, hudi_table)
    snap_files = {
        os.path.basename(r["physical_path"]) for r in snap_paths(src)
    }
    assert live_files == snap_files
    assert not (live_files & before_files)  # every old file tombstoned out


def snap_paths(src):
    return model_rows(src.get_current_snapshot(with_stats=False).files, "physical_path")


def test_uncovered_files_fall_back_to_footers(spark, hudi_table, caplog):
    """Delete the first commit's index delta: its files become uncovered,
    the two-tier read warns and recomputes them from footers, and the
    combined result still equals a full footer recompute."""
    deltas = sorted(glob.glob(os.path.join(col_stats_dir(hudi_table), "*.parquet")))
    os.remove(deltas[0])

    src = HudiConversionSource(spark, hudi_table)
    snap = src.get_current_snapshot(with_stats=False)
    listing = spark.createDataFrame(
        snap.files.select(["physical_path", "size_bytes", "last_modified_ms"])
    )

    import logging

    with caplog.at_level(logging.WARNING, logger="incubator_xtable_spark.sources.hudi_metadata"):
        two_tier = stats_with_index_tier(spark, hudi_table, listing, data_schema(snap.table))
        two_tier_map = _stats_by_path(two_tier)
    assert any("falling back to parquet footers" in m for m in caplog.messages)

    footer_map = _stats_by_path(footer_stats(spark, listing, data_schema(snap.table)))
    assert two_tier_map == footer_map


def test_properties_upgrade_adds_partition_key(spark, hudi_table):
    """Tables created before the index existed get the availability flag
    appended on the next sync (upgrade path)."""
    props_path = os.path.join(hudi_table, ".hoodie", "hoodie.properties")
    with open(props_path, encoding="utf-8") as fh:
        lines = [l for l in fh if not l.startswith(METADATA_PARTITIONS_KEY)]
    with open(props_path, "w", encoding="utf-8") as fh:
        fh.writelines(lines)
    assert not col_stats_available(hudi_table)

    target = HudiConversionTarget(spark, hudi_table, table_name="nation")
    src = HudiConversionSource(spark, hudi_table)
    target.begin_sync(src.get_current_table())
    assert col_stats_available(hudi_table)


# -- index-driven file pruning (r9: the data-skipping CONSUMER) --------------


def _build_pruned_table(spark, d: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
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
    target = HudiConversionTarget(
        spark, d, table_name="prune", metadata_index_format="hfile"
    )
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="prune"), {TableFormat.HUDI: target}
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    return d


@pytest.fixture(scope="module")
def pruned_table_ro(spark, tmp_path_factory):
    """One shared build for READ-ONLY prune tests (the build is a full
    sync's worth of fixed-latency Spark jobs; the rmtree-mutating test
    keeps its own per-test build)."""
    return _build_pruned_table(spark, str(tmp_path_factory.mktemp("prune_ro") / "prune_tab"))


def test_prune_files_by_col_stats_drops_provably_disjoint_files(spark, pruned_table_ro):
    from incubator_xtable_spark.sources.hudi_metadata import prune_files_by_col_stats
    from incubator_xtable_spark.sources.hudi_source import (
        HudiConversionSource,
        live_files_rows,
    )

    d = pruned_table_ro
    rels = [r["path"] for r in live_files_rows(d) if r["path"]]
    assert len(rels) == 3
    schema = HudiConversionSource(spark, d).get_current_table().read_schema
    kept = prune_files_by_col_stats(spark, d, rels, schema, {"id": (120, 150)})
    assert kept == {r for r in rels if "part-0001" in r}
    # open ranges
    assert prune_files_by_col_stats(spark, d, rels, schema, {"id": (200, None)}) == {
        r for r in rels if "part-0002" in r
    }
    assert prune_files_by_col_stats(spark, d, rels, schema, {"id": (None, 99)}) == {
        r for r in rels if "part-0000" in r
    }
    # range spanning everything keeps everything; unknown column keeps all
    assert prune_files_by_col_stats(spark, d, rels, schema, {"id": (None, None)}) == set(rels)
    assert prune_files_by_col_stats(spark, d, rels, schema, {"nope": (1, 2)}) == set(rels)


def test_read_hudi_with_prune_is_exact_and_skips_files(spark, pruned_table_ro):
    from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df

    d = pruned_table_ro
    import pyspark.sql.functions as F

    pruned = read_hudi_as_df(spark, d, prune={"id": (120, 150)}).filter(
        F.col("id").between(120, 150)
    )
    full = read_hudi_as_df(spark, d).filter(F.col("id").between(120, 150))
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.collect()
    ) == list(range(120, 151))
    # the pruned plan scans exactly one data file
    assert len(pruned.inputFiles()) == 1
    assert len(full.inputFiles()) == 3
    # a disjoint prune yields an empty (but well-schema'd) result
    empty = read_hudi_as_df(spark, d, prune={"id": (1000, None)})
    assert empty.count() == 0 and "id" in empty.columns


def test_prune_keeps_files_without_index_coverage(spark, tmp_path):
    import shutil

    from incubator_xtable_spark.sources.hudi_metadata import prune_files_by_col_stats
    from incubator_xtable_spark.sources.hudi_source import (
        HudiConversionSource,
        live_files_rows,
    )

    d = _build_pruned_table(spark, str(tmp_path / "prune_tab"))
    rels = [r["path"] for r in live_files_rows(d) if r["path"]]
    schema = HudiConversionSource(spark, d).get_current_table().read_schema
    # no col-stats partition at all -> no-op prune
    shutil.rmtree(os.path.join(d, ".hoodie", "metadata", "column_stats"))
    assert prune_files_by_col_stats(spark, d, rels, schema, {"id": (120, 150)}) == set(rels)


def test_prune_refuses_mor_snapshot_mode(spark, pruned_table_ro):
    from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df

    with pytest.raises(ValueError, match="read_optimized"):
        read_hudi_as_df(spark, pruned_table_ro, mode="snapshot", prune={"id": (1, 2)})


def test_prune_keeps_file_whose_footer_lacks_column_stats(spark, tmp_path):
    """Safety: a file whose parquet footer carries NO statistics for the
    predicate column has no usable index entry — it must survive every
    prune (its rows could be anywhere in the domain)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.hudi_metadata import prune_files_by_col_stats
    from incubator_xtable_spark.sources.hudi_source import (
        HudiConversionSource,
        live_files_rows,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    d = str(tmp_path / "nostats_tab")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(range(100), pa.int64()), "label": ["x"] * 100}),
        os.path.join(d, "covered.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array(range(120, 160), pa.int64()), "label": ["y"] * 40}),
        os.path.join(d, "uncovered.parquet"),
        write_statistics=False,
    )
    target = HudiConversionTarget(
        spark, d, table_name="ns", metadata_index_format="hfile"
    )
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="ns"), {TableFormat.HUDI: target}
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    rels = [r["path"] for r in live_files_rows(d) if r["path"]]
    schema = HudiConversionSource(spark, d).get_current_table().read_schema
    kept = prune_files_by_col_stats(spark, d, rels, schema, {"id": (500, 600)})
    # the covered file provably excludes [500,600]; the stats-less file
    # must survive even though its rows also miss the range
    assert kept == {r for r in rels if "uncovered" in r}


def test_prune_duplicate_basenames_never_cross_serve(spark, tmp_path):
    """Safety: two partitions carrying the SAME file base name must never
    serve each other's stats — the hashed record keys carry the
    partition, and the pruner matches on keys, not names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import (
        InternalPartitionField,
        SyncStatusCode,
        TableFormat,
    )
    from incubator_xtable_spark.sources.hudi_metadata import prune_files_by_col_stats
    from incubator_xtable_spark.sources.hudi_source import (
        HudiConversionSource,
        live_files_rows,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    d = str(tmp_path / "dup_names")
    for b, (lo, hi) in [(0, (0, 99)), (1, (100, 199))]:
        os.makedirs(os.path.join(d, f"bucket={b}"), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(lo, hi + 1), pa.int64()),
                    "label": ["x"] * (hi - lo + 1),
                }
            ),
            os.path.join(d, f"bucket={b}", "data.parquet"),  # SAME basename
        )
    target = HudiConversionTarget(
        spark, d, table_name="dup", metadata_index_format="hfile"
    )
    res = ConversionController().sync(
        ParquetConversionSource(
            spark, d, name="dup", partition_fields=[InternalPartitionField("bucket")]
        ),
        {TableFormat.HUDI: target},
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    rels = [r["path"] for r in live_files_rows(d) if r["path"]]
    assert len({os.path.basename(r) for r in rels}) == 1  # basenames collide
    schema = HudiConversionSource(spark, d).get_current_table().read_schema
    # range only bucket=0 holds: bucket=1's file must drop, bucket=0 stay
    kept = prune_files_by_col_stats(spark, d, rels, schema, {"id": (0, 50)})
    assert kept == {r for r in rels if r.startswith("bucket=0/")}


def test_stats_tier_serves_duplicate_basenames_via_footers(spark, tmp_path):
    """The name-keyed HFile stats tier cannot disambiguate two partitions
    sharing a file base name — those files must route to the footer
    fallback (same values, no DUPLICATED_MAP_KEY crash, no
    cross-serving), while uniquely-named files stay on the index."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import (
        InternalPartitionField,
        SyncStatusCode,
        TableFormat,
    )
    from incubator_xtable_spark.sources.hudi_metadata import stats_with_hfile_tier
    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource
    from incubator_xtable_spark.sources.parquet_source import (
        ParquetConversionSource,
        footer_stats,
    )
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    d = str(tmp_path / "dup_stats")
    for b, (lo, hi) in [(0, (0, 99)), (1, (100, 199))]:
        os.makedirs(os.path.join(d, f"bucket={b}"), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(lo, hi + 1), pa.int64()),
                    "label": ["x"] * (hi - lo + 1),
                }
            ),
            os.path.join(d, f"bucket={b}", "data.parquet"),
        )
    res = ConversionController().sync(
        ParquetConversionSource(
            spark, d, name="ds", partition_fields=[InternalPartitionField("bucket")]
        ),
        {
            TableFormat.HUDI: HudiConversionTarget(
                spark, d, table_name="ds", metadata_index_format="hfile"
            )
        },
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    from pyspark.sql import types as ST

    src = HudiConversionSource(spark, d)
    table = src.get_current_table()
    schema = ST.StructType(
        [f for f in table.read_schema.fields if f.name != "bucket"]
    )
    listing = spark.createDataFrame(
        [(os.path.join(d, f"bucket={b}", "data.parquet"),) for b in (0, 1)],
        "physical_path STRING",
    )
    served = stats_with_hfile_tier(spark, d, listing, schema)
    truth = footer_stats(spark, listing, schema)
    by_path = lambda df: {
        r["physical_path"]: (
            r["record_count"],
            {c: (s["min_json"], s["max_json"]) for c, s in (r["column_stats"] or {}).items()},
        )
        for r in df.collect()
    }
    got, want = by_path(served), by_path(truth)
    assert got == want
    # the two files genuinely differ — cross-serving would equalize them
    assert len({v for v in (tuple(sorted(s.items())) for _, s in got.values())}) == 2
