"""Hudi ``partition_stats`` metadata partition (Hudi 1.0's
partition-pruning index, beyond the reference — the reference consumes
only col_stats/files, ref hudi/HudiFileStatsExtractor.java:99-186).

Shape under test: every commit appends ONE type-3 record per (touched
partition, column) carrying only that commit's aggregate; records for a
key accumulate across commits through the real HoodieMetadataPayload
stat COMBINE — on read (merge_metadata_records) AND on compaction
(combine_type3 raw fold through the branch-preserving avro decode).
Bounds stay conservative after deletes (supersets — safe to prune on).
"""

import os

import pytest
from pyspark.sql import types as T

from incubator_xtable_spark.sources.hudi_metadata import (
    lookup_partition_stats,
    read_partition_stats,
)
from incubator_xtable_spark.targets.hudi_metadata_index import (
    PARTITION_STATS_FILE_ID,
    write_partition_stats_commit,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("label", T.StringType()),
    ]
)


def _add(rel, n, id_min, id_max, lab_min, lab_max, nulls=0):
    return {
        "rel_path": rel,
        "size_bytes": 100,
        "record_count": n,
        "column_stats": {
            "id": {"min_json": str(id_min), "max_json": str(id_max), "null_count": nulls},
            "label": {
                "min_json": f'"{lab_min}"',
                "max_json": f'"{lab_max}"',
                "null_count": 0,
            },
        },
    }


def _commit(base, instant, adds, removed=(), compact_every=10):
    return write_partition_stats_commit(
        base, instant, adds, list(removed), SCHEMA, compact_every=compact_every
    )


def test_single_commit_aggregates_per_partition(tmp_path):
    base = str(tmp_path / "t")
    os.makedirs(base, exist_ok=True)
    out = _commit(
        base,
        "00000000000001000",
        [
            _add("p=1/a.parquet", 10, 3, 9, "aa", "cc", nulls=1),
            _add("p=1/b.parquet", 5, 1, 4, "bb", "zz"),
            _add("p=2/c.parquet", 7, 100, 200, "mm", "nn"),
        ],
    )
    assert out and out[0][1] == PARTITION_STATS_FILE_ID
    cs = lookup_partition_stats(base, "p=1", "id")
    assert cs["minValue"] == {"value": 1} and cs["maxValue"] == {"value": 9}
    assert cs["valueCount"] == 15 and cs["nullCount"] == 1
    cs2 = lookup_partition_stats(base, "p=2", "label")
    assert cs2["minValue"] == {"value": "mm"} and cs2["maxValue"] == {"value": "nn"}
    assert lookup_partition_stats(base, "p=3", "id") is None


def test_commits_accumulate_through_combine(tmp_path):
    base = str(tmp_path / "t")
    os.makedirs(base, exist_ok=True)
    _commit(base, "00000000000001000", [_add("p=1/a.parquet", 10, 3, 9, "aa", "cc")])
    _commit(base, "00000000000002000", [_add("p=1/b.parquet", 5, 1, 4, "bb", "zz", nulls=2)])
    _commit(base, "00000000000003000", [_add("p=2/c.parquet", 7, -5, 0, "mm", "nn")])
    cs = lookup_partition_stats(base, "p=1", "id")
    assert cs["minValue"] == {"value": 1} and cs["maxValue"] == {"value": 9}
    assert cs["valueCount"] == 15 and cs["nullCount"] == 2
    # untouched partition unaffected by later commits
    assert lookup_partition_stats(base, "p=2", "id")["minValue"] == {"value": -5}
    state = read_partition_stats(base)
    assert set(state) == {"p=1", "p=2"}
    assert state["p=1"]["label"]["maxValue"] == {"value": "zz"}


def test_compaction_preserves_accumulated_aggregates(tmp_path):
    """compact_every=2: the third commit triggers a base rewrite whose
    same-key records folded through the branch-preserving raw combine —
    state before and after compaction must match."""
    base = str(tmp_path / "t")
    os.makedirs(base, exist_ok=True)
    _commit(base, "00000000000001000", [_add("p=1/a.parquet", 10, 3, 9, "aa", "cc")], compact_every=2)
    _commit(base, "00000000000002000", [_add("p=1/b.parquet", 5, 1, 4, "bb", "zz")], compact_every=2)
    before = read_partition_stats(base)
    _commit(base, "00000000000003000", [_add("p=1/c.parquet", 2, 7, 99, "ab", "ac")], compact_every=2)
    d = os.path.join(base, ".hoodie", "metadata", "partition_stats")
    bases = [f for f in os.listdir(d) if f.endswith(".hfile")]
    assert len(bases) == 2, "compaction must have written a second base"
    cs = lookup_partition_stats(base, "p=1", "id")
    assert cs["minValue"] == {"value": 1} and cs["maxValue"] == {"value": 99}
    assert cs["valueCount"] == 17
    assert before["p=1"]["id"]["valueCount"] == 15  # pre-compaction view was consistent too


def test_delete_keeps_conservative_bounds(tmp_path):
    base = str(tmp_path / "t")
    os.makedirs(base, exist_ok=True)
    _commit(base, "00000000000001000", [_add("p=1/a.parquet", 10, 3, 9, "aa", "cc")])
    _commit(base, "00000000000002000", [], removed=["p=1/a.parquet"])
    cs = lookup_partition_stats(base, "p=1", "id")
    assert cs["minValue"] == {"value": 3} and cs["maxValue"] == {"value": 9}


def _commit_with_indexes(base, instant, adds, removed=(), compact_every=1):
    """Mimic the target's per-commit order: partition_stats delta FIRST
    (reads the previous commit's col_stats/files state at compaction),
    then the col_stats + files index commit."""
    from incubator_xtable_spark.targets.hudi_metadata_index import (
        write_hfile_index_commit,
    )

    out = write_partition_stats_commit(
        base, instant, adds, list(removed), SCHEMA, compact_every=compact_every
    )
    write_hfile_index_commit(
        base,
        instant,
        adds,
        list(removed),
        SCHEMA,
        "ps_retighten",
        compact_every=compact_every,
        extra_stats=out,
    )
    return out


def test_compaction_retightens_after_inplace_rewrite(tmp_path):
    """An in-place rewrite (same rel path removed AND re-added) leaves a
    double-counted, widened delta aggregate — compaction must REBUILD
    the partition aggregate from the live col_stats/files indexes so the
    new version's stats fully REPLACE the old contribution."""
    base = str(tmp_path / "t")
    os.makedirs(base, exist_ok=True)
    _commit_with_indexes(
        base,
        "00000000000001000",
        [
            _add("p=1/a.parquet", 10, 3, 9, "aa", "cc", nulls=1),
            _add("p=1/b.parquet", 5, 1, 4, "bb", "zz"),
        ],
    )
    # rewrite a.parquet in place: 4 rows, id 100..200 — compact_every=1
    # fires a partition_stats compaction on this very commit
    _commit_with_indexes(
        base,
        "00000000000002000",
        [_add("p=1/a.parquet", 4, 100, 200, "dd", "ee")],
        removed=["p=1/a.parquet"],
    )
    cs = lookup_partition_stats(base, "p=1", "id")
    # tight: b.parquet (1..4, 5 rows) + new a.parquet (100..200, 4 rows);
    # the combine fold would have kept min=1/max=200 but valueCount 19
    assert cs["valueCount"] == 9, cs
    assert cs["nullCount"] == 0
    assert cs["minValue"] == {"value": 1} and cs["maxValue"] == {"value": 200}
    lab = lookup_partition_stats(base, "p=1", "label")
    assert lab["minValue"] == {"value": "bb"} and lab["maxValue"] == {"value": "zz"}


def test_compaction_retightens_after_delete(tmp_path):
    """A plain delete leaves the dead file's contribution until
    compaction rebuilds from the live indexes; a partition whose last
    file died disappears from the aggregate entirely."""
    base = str(tmp_path / "t")
    os.makedirs(base, exist_ok=True)
    _commit_with_indexes(
        base,
        "00000000000001000",
        [
            _add("p=1/a.parquet", 10, 3, 9, "aa", "cc"),
            _add("p=2/c.parquet", 7, 100, 200, "mm", "nn"),
        ],
    )
    _commit_with_indexes(
        base,
        "00000000000002000",
        [_add("p=1/b.parquet", 2, 5, 6, "dd", "ee")],
        removed=["p=2/c.parquet"],
    )
    cs = lookup_partition_stats(base, "p=1", "id")
    assert cs["valueCount"] == 12
    assert cs["minValue"] == {"value": 3} and cs["maxValue"] == {"value": 9}
    # p=2 lost its only file: the rebuilt state drops the key entirely
    assert lookup_partition_stats(base, "p=2", "id") is None


def test_compaction_falls_back_to_fold_without_indexes(tmp_path):
    """Standalone partition_stats (no col_stats/files partitions on
    disk): compaction keeps the conservative combine fold — rewrites
    stay double-counted, proving the fallback (not the rebuild) ran."""
    base = str(tmp_path / "t")
    os.makedirs(base, exist_ok=True)
    _commit(base, "00000000000001000", [_add("p=1/a.parquet", 10, 3, 9, "aa", "cc")], compact_every=1)
    _commit(
        base,
        "00000000000002000",
        [_add("p=1/a.parquet", 4, 100, 200, "dd", "ee")],
        removed=["p=1/a.parquet"],
        compact_every=1,
    )
    cs = lookup_partition_stats(base, "p=1", "id")
    assert cs["valueCount"] == 14  # conservative: old + new both counted
    assert cs["minValue"] == {"value": 3} and cs["maxValue"] == {"value": 200}


def test_key_scheme_is_hashed_and_column_contiguous(tmp_path):
    from incubator_xtable_spark.model.hudi_hash import (
        column_index_id,
        partition_stats_index_key,
    )

    k1 = partition_stats_index_key("p=1", "id")
    k2 = partition_stats_index_key("p=2", "id")
    k3 = partition_stats_index_key("p=1", "label")
    assert len(k1) == len(k2) == len(k3)
    assert k1 != k2 != k3
    # columnID prefix: one column's partition aggregates sort contiguously
    assert k1.startswith(column_index_id("id")) and k2.startswith(column_index_id("id"))
    assert not k3.startswith(column_index_id("id"))


def test_target_opt_in_advertises_partition(tmp_path, spark):
    """End-to-end through the Hudi target: partition_stats=True writes the
    partition and advertises it in hoodie.properties."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.hudi_source import read_properties
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    d = str(tmp_path / "tab")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], pa.int64()), "label": ["a", "b", "c"]}),
        os.path.join(d, "f1.parquet"),
    )
    target = HudiConversionTarget(
        spark,
        d,
        table_name="ps",
        metadata_index_format="hfile",
        partition_stats=True,
    )
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="ps"), {TableFormat.HUDI: target}
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, res[TableFormat.HUDI].error
    props = read_properties(d)
    assert "partition_stats" in (props.get("hoodie.table.metadata.partitions") or "")
    from incubator_xtable_spark.sources.hudi_metadata import partition_stats_available

    assert partition_stats_available(d)
    cs = lookup_partition_stats(d, "", "id")
    assert cs is not None and cs["valueCount"] == 3
    assert cs["minValue"] == {"value": 1} and cs["maxValue"] == {"value": 3}


def test_branch_preserving_decode_roundtrips():
    """decode_binary_record_with_branches -> encode is byte-lossless on a
    wrapper-union record (plain decode can't re-encode: branch ambiguity)."""
    from incubator_xtable_spark.model.avro_codec import (
        decode_binary_record_with_branches,
        encode_binary_record,
    )
    from incubator_xtable_spark.model.hudi_metadata_records import (
        HUDI_METADATA_RECORD_SCHEMA,
        partition_stats_record,
    )

    _key, blob = partition_stats_record("p=1", "id", 3, 9, T.IntegerType(), 10, 0)
    rec = decode_binary_record_with_branches(HUDI_METADATA_RECORD_SCHEMA, blob)
    assert encode_binary_record(HUDI_METADATA_RECORD_SCHEMA, rec) == blob


# -- partition-level pruning (the partition_stats CONSUMER) -------------------


def _partitioned_hudi(spark, tmp_path, partition_stats=True):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import (
        InternalPartitionField,
        SyncStatusCode,
        TableFormat,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    d = str(tmp_path / "hudi_part")
    for b, (lo, hi) in [(0, (0, 99)), (1, (100, 199)), (2, (200, 299))]:
        os.makedirs(os.path.join(d, f"bucket={b}"), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(lo, hi + 1), pa.int64()),
                    "label": [f"row-{v}" for v in range(lo, hi + 1)],
                }
            ),
            os.path.join(d, f"bucket={b}", f"f{b}.parquet"),
        )
    target = HudiConversionTarget(
        spark,
        d,
        table_name="pp",
        metadata_index_format="hfile",
        partition_stats=partition_stats,
    )
    res = ConversionController().sync(
        ParquetConversionSource(
            spark, d, name="pp", partition_fields=[InternalPartitionField("bucket")]
        ),
        {TableFormat.HUDI: target},
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, res[TableFormat.HUDI].error
    return d


def test_prune_across_partitions_via_hashed_keys(spark, tmp_path):
    from incubator_xtable_spark.sources.hudi_metadata import prune_files_by_col_stats
    from incubator_xtable_spark.sources.hudi_source import (
        HudiConversionSource,
        live_files_rows,
    )

    d = _partitioned_hudi(spark, tmp_path)
    rels = [r["path"] for r in live_files_rows(d) if r["path"]]
    assert len(rels) == 3
    schema = HudiConversionSource(spark, d).get_current_table().read_schema
    kept = prune_files_by_col_stats(d, rels, schema, {"id": (120, 150)})
    assert kept == {r for r in rels if r.startswith("bucket=1/")}
    assert prune_files_by_col_stats(d, rels, schema, {"id": (None, None)}) == set(rels)
    assert prune_files_by_col_stats(d, rels, schema, {"id": (5000, None)}) == set()


def test_prune_unaffected_by_stale_partition_stats(spark, tmp_path):
    """A commit written while partition_stats was OFF leaves the
    partition-level aggregate stale; pruning decisions come from
    file-level col-stats keyed records only (the partition_stats
    aggregate is deliberately not a dropper — see
    prune_files_by_col_stats), so the new file always survives."""
    import time

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

    d = _partitioned_hudi(spark, tmp_path)
    # second commit WITHOUT partition_stats: new partition bucket=7 whose
    # range overlaps the probe, invisible to the stale aggregate
    time.sleep(1.1)  # hudi instants are second-resolution
    os.makedirs(os.path.join(d, "bucket=7"), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(120, 130), pa.int64()),
                "label": [f"row-{v}" for v in range(120, 130)],
            }
        ),
        os.path.join(d, "bucket=7", "f7.parquet"),
    )
    target = HudiConversionTarget(
        spark,
        d,
        table_name="pp",
        metadata_index_format="hfile",
        partition_stats=False,
    )
    res = ConversionController().sync(
        ParquetConversionSource(
            spark, d, name="pp", partition_fields=[InternalPartitionField("bucket")]
        ),
        {TableFormat.HUDI: target},
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS, res[TableFormat.HUDI].error
    rels = [r["path"] for r in live_files_rows(d) if r["path"]]
    assert any(r.startswith("bucket=7/") for r in rels)
    schema = HudiConversionSource(spark, d).get_current_table().read_schema
    kept = prune_files_by_col_stats(d, rels, schema, {"id": (120, 150)})
    # file-level stats still prune correctly — and the new file SURVIVES
    assert kept == {
        r for r in rels if r.startswith("bucket=1/") or r.startswith("bucket=7/")
    }
